"""Corpus curation capstone: the keep/drop decision a training-data
pipeline actually ships, composed from the engine's own operators —
quality scoring, language ID, exact-dedup canonicalization, and
benchmark decontamination — in ONE declarative plan.

Composition is the point: each input is the same DataFrame function
registered individually (textops.quality_score / lang_id,
dedup.exact_dedup / contamination), so this query demonstrates that
operators chain without materialization boundaries; Catalyst sees one
tree and shares the document scan where it can. The DuckDB oracle
composes the same logic as CTEs — the full pipeline is hash-checked
end to end, not just its parts.

Scale: quality/lang/fingerprint are scan-local (no shuffle); the
dedup-rep join shuffles 16-byte digests; contamination joins against
a broadcast benchmark shingle set. The widest thing that ever
shuffles is (doc_id, digest) — never text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from .dedup import BENCHMARK_DOC_MAX, contamination_query, exact_dedup_query
from .textops import (
    _GOPHER_MAX_DUP_FRAC,
    _GOPHER_MAX_MWL,
    _GOPHER_MAX_WORDS,
    _GOPHER_MIN_MWL,
    _GOPHER_MIN_WORDS,
    fingerprint_query,
    lang_id_query,
    quality_score_query,
    tokens_expr,
)

MIN_QUALITY = 0.5
KEEP_LANG = "en"
MAX_CONTAMINATED_SHINGLES = 2


def corpus_keep_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-11: a ``cur.keep`` shared pin — corpus_keep_full (and
    # through it training_manifest) re-derived this whole five-gate
    # composition per query; one materialization per family scope.
    # Round-12 (guide §2.6, as in corpus_keep_full below): the four
    # gate subtrees are independent until the final doc_id joins; each
    # pins on its own thread so their jobs overlap instead of running
    # back-to-back inside one action. Values unchanged; measured
    # ~2.3s -> ~1.5s warm solo.
    def build() -> DataFrame:
        from ..pinning import parallel, pin as _pin

        def _canonical() -> DataFrame:
            fps = fingerprint_query(spark, sf_dir)
            reps = exact_dedup_query(spark, sf_dir).select(
                "fingerprint", "rep_doc_id"
            )
            return _pin(
                fps.join(reps, "fingerprint").select(
                    "doc_id",
                    (F.col("doc_id") == F.col("rep_doc_id")).alias(
                        "is_canonical"
                    ),
                )
            )

        tasks = (
            lambda: _pin(
                quality_score_query(spark, sf_dir).select(
                    "doc_id", "quality_score"
                )
            ),
            lambda: _pin(
                lang_id_query(spark, sf_dir).select("doc_id", "pred_lang")
            ),
            _canonical,
            lambda: _pin(contamination_query(spark, sf_dir)),
        )
        quality, lang, canonical, contam = parallel(spark, *tasks)

        keep = (
            (F.col("quality_score") >= MIN_QUALITY)
            & (F.col("pred_lang") == KEEP_LANG)
            & F.col("is_canonical")
            & (F.col("n_contaminated_shingles") <= MAX_CONTAMINATED_SHINGLES)
            & (F.col("doc_id") >= BENCHMARK_DOC_MAX)
        )
        return (
            quality.join(lang, "doc_id")
            .join(canonical, "doc_id")
            .join(contam, "doc_id", "left")
            .na.fill({"n_contaminated_shingles": 0})
            .select(
                "doc_id",
                "quality_score",
                "pred_lang",
                "is_canonical",
                "n_contaminated_shingles",
                keep.alias("keep"),
            )
        )

    from ..pinning import shared_pin as _shared_pin

    return _shared_pin(("cur.keep", tables.table(spark, sf_dir, "documents")), build)


def _cte(sql: str) -> str:
    return sql.strip().rstrip(";")


def _build_oracle() -> str:
    from .dedup import CONTAMINATION_ORACLE, EXACT_DEDUP_ORACLE
    from .textops import (
        FINGERPRINT_ORACLE,
        LANG_ID_ORACLE,
        QUALITY_SCORE_ORACLE,
    )

    return f"""
WITH quality AS ({_cte(QUALITY_SCORE_ORACLE)}),
lang AS ({_cte(LANG_ID_ORACLE)}),
fps AS ({_cte(FINGERPRINT_ORACLE)}),
reps AS ({_cte(EXACT_DEDUP_ORACLE)}),
contam AS ({_cte(CONTAMINATION_ORACLE)}),
canonical AS (
  SELECT fps.doc_id, fps.doc_id = reps.rep_doc_id AS is_canonical
  FROM fps JOIN reps ON fps.fingerprint = reps.fingerprint
)
SELECT q.doc_id, q.quality_score, l.pred_lang, c.is_canonical,
       COALESCE(ct.n_contaminated_shingles, 0) AS n_contaminated_shingles,
       q.quality_score >= {MIN_QUALITY}
         AND l.pred_lang = '{KEEP_LANG}'
         AND c.is_canonical
         AND COALESCE(ct.n_contaminated_shingles, 0)
             <= {MAX_CONTAMINATED_SHINGLES}
         AND q.doc_id >= {BENCHMARK_DOC_MAX} AS keep
FROM quality q
JOIN lang l ON l.doc_id = q.doc_id
JOIN canonical c ON c.doc_id = q.doc_id
LEFT JOIN contam ct ON ct.doc_id = q.doc_id
"""


CORPUS_KEEP_ORACLE = _build_oracle()


# --------------------------------------------------------------------------
# Full-pipeline capstone v2: + verbatim-span, novelty, and LM gates
# --------------------------------------------------------------------------

MAX_SHARED_WINDOWS = 100   # exact-substring tier: boilerplate-heavy docs
MAX_SURPRISAL = 3.6        # unigram-LM tier: gibberish/noise ceiling (nats)
MIN_NOVELTY = 0.01         # n-gram tier: must contribute SOMETHING new


def corpus_keep_full_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_keep + the round-3 tiers in one plan: a document ships
    to training only if it additionally (a) is not dominated by
    cross-doc verbatim spans (exact-substring dedup), (b) contributes
    at least MIN_NOVELTY first-seen 3-grams, and (c) scores under the
    unigram-LM surprisal ceiling. Same composition contract as
    corpus_keep: every gate is the registered operator's own
    DataFrame, chained without materialization boundaries, and the
    whole pipeline is hash-checked end to end against the composed
    DuckDB CTEs. The added joins are all (doc_id, small-int) width."""
    # Round-11: a ``cur.keep_full`` shared pin — training_manifest
    # consumed this whole four-tier composition per query.
    #
    # Round-12 (guide §2.6 overlap independent jobs): the four tier
    # subtrees are independent until the final doc_id joins, but
    # composed into one action they executed nearly serially
    # (measured: 4.5-5.0s with cur.keep warm ~= the 2.2+1.3+1.3s sum
    # of the tiers' solo costs). Each tier now pins on its own thread
    # — the dedup_tier_agreement scheduling pattern; every shared
    # intermediate the threads can race (cur.keep, dedup.shingles) is
    # a per-key-locked shared_pin, per _tier_pairs' concurrency
    # contract — so the tier jobs overlap and the composition reads
    # id-width pinned frames. Values unchanged (pins only move where
    # subtrees materialize); measured 4.8s -> ~2.9s warm-keep solo.
    def build() -> DataFrame:
        from ..pinning import parallel, pin as _pin
        from .dedup import doc_ngram_novelty_query
        from .lm import unigram_lm_score_query
        from .substring_dedup import substring_dup_docs_query

        tasks = (
            lambda: corpus_keep_query(spark, sf_dir),
            lambda: _pin(
                substring_dup_docs_query(spark, sf_dir).select(
                    "doc_id", "n_shared_windows"
                )
            ),
            lambda: _pin(
                doc_ngram_novelty_query(spark, sf_dir).select(
                    "doc_id", "novelty"
                )
            ),
            lambda: _pin(
                unigram_lm_score_query(spark, sf_dir).select(
                    "doc_id", "avg_surprisal"
                )
            ),
        )
        base, spans, nov, lm_score = parallel(spark, *tasks)
        keep_full = (
            F.col("keep")
            & (F.col("n_shared_windows") <= MAX_SHARED_WINDOWS)
            & (F.col("novelty") >= MIN_NOVELTY)
            & (F.col("avg_surprisal") <= MAX_SURPRISAL)
        )
        return (
            base.join(spans, "doc_id", "left")
            .na.fill({"n_shared_windows": 0})
            .join(nov, "doc_id", "left")
            .na.fill({"novelty": 1.0})  # shingle-less docs: trivially novel
            .join(lm_score, "doc_id")
            .select(
                "doc_id",
                "keep",
                "n_shared_windows",
                "novelty",
                "avg_surprisal",
                keep_full.alias("keep_full"),
            )
        )

    from ..pinning import shared_pin as _shared_pin

    return _shared_pin(
        ("cur.keep_full", tables.table(spark, sf_dir, "documents")), build
    )


def _build_full_oracle() -> str:
    from .dedup import DOC_NGRAM_NOVELTY_ORACLE
    from .lm import UNIGRAM_LM_ORACLE
    from .substring_dedup import SUBSTRING_DUP_DOCS_ORACLE

    return f"""
WITH base AS ({_cte(CORPUS_KEEP_ORACLE)}),
spans AS ({_cte(SUBSTRING_DUP_DOCS_ORACLE)}),
nov AS ({_cte(DOC_NGRAM_NOVELTY_ORACLE)}),
lmq AS ({_cte(UNIGRAM_LM_ORACLE)})
SELECT b.doc_id, b.keep,
       CAST(COALESCE(s.n_shared_windows, 0) AS BIGINT) AS n_shared_windows,
       COALESCE(n.novelty, 1.0) AS novelty,
       l.avg_surprisal,
       b.keep AND COALESCE(s.n_shared_windows, 0) <= {MAX_SHARED_WINDOWS}
              AND COALESCE(n.novelty, 1.0) >= {MIN_NOVELTY}
              AND l.avg_surprisal <= {MAX_SURPRISAL} AS keep_full
FROM base b
LEFT JOIN spans s ON s.doc_id = b.doc_id
LEFT JOIN nov n ON n.doc_id = b.doc_id
JOIN lmq l ON l.doc_id = b.doc_id
"""


CORPUS_KEEP_FULL_ORACLE = _build_full_oracle()


# --------------------------------------------------------------------------
# Training manifest (the pipeline's end product)
# --------------------------------------------------------------------------

N_SHARDS = 8
_SHARD_SEED = 41


def training_manifest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split, shard, n_docs, n_tokens, n_sources): the manifest a
    training run consumes — every document that SURVIVES the full
    curation gate (corpus_keep_full), assigned to its hash-stable
    train/val/test split and one of N_SHARDS shards, with token
    budgets counted under the TRAINED BPE tokenizer (bpe_doc_tokens).
    This is the pipeline's end product: the downstream dataloader
    reads exactly these (split, shard) groups and trusts exactly
    these token counts.

    Composition contract as the other capstones: each input is the
    registered operator's own DataFrame, chained in one plan with no
    materialization boundary, and the whole composition hash-checks
    against the composed DuckDB CTEs. Shard assignment is
    hash60(doc_id) mod N_SHARDS — reproducible across runs and
    cluster sizes, like every split/sample in sampling.py. All joins
    are (doc_id, small-int) width; the final rollup is one
    partial-aggregatable groupBy over |kept docs| rows into
    3 x N_SHARDS output rows."""
    from .bpe import bpe_doc_tokens_query
    from .sampling import dataset_split_query
    from ..functions.xhash import hash60_spark

    kept = corpus_keep_full_query(spark, sf_dir).filter(
        F.col("keep_full")
    ).select("doc_id")
    split = dataset_split_query(spark, sf_dir).select(
        "doc_id", "source", "split"
    )
    toks = bpe_doc_tokens_query(spark, sf_dir).select("doc_id", "n_tokens")
    shard = F.expr(
        f"pmod({hash60_spark('cast(doc_id as string)', _SHARD_SEED)},"
        f" {N_SHARDS})"
    ).cast("int")
    return (
        kept.join(split, "doc_id")
        .join(toks, "doc_id")
        .select("split", shard.alias("shard"), "source", "n_tokens")
        .groupBy("split", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


def _build_manifest_oracle() -> str:
    from .bpe import BPE_DOC_TOKENS_ORACLE
    from .sampling import DATASET_SPLIT_ORACLE
    from ..functions.xhash import hash60_duck

    shard = (
        f"CAST({hash60_duck('CAST(k.doc_id AS VARCHAR)', _SHARD_SEED)}"
        f" % {N_SHARDS} AS INT)"
    )
    return f"""
WITH full_gate AS ({_cte(CORPUS_KEEP_FULL_ORACLE)}),
kept AS (SELECT doc_id FROM full_gate WHERE keep_full),
splits AS ({_cte(DATASET_SPLIT_ORACLE)}),
toks AS ({_cte(BPE_DOC_TOKENS_ORACLE)})
SELECT s.split, {shard} AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT s.source) AS BIGINT) AS n_sources
FROM kept k
JOIN splits s ON s.doc_id = k.doc_id
JOIN toks t ON t.doc_id = k.doc_id
GROUP BY 1, 2
"""


TRAINING_MANIFEST_ORACLE = _build_manifest_oracle()


# --------------------------------------------------------------------------
# Curriculum pacing (length-staged training schedule)
# --------------------------------------------------------------------------

# n_chars stage boundaries: short -> long (the classic length-based
# curriculum; integer thresholds so stage assignment is exact on both
# engines — a float quality threshold could ulp-flip at the boundary).
CURRICULUM_BOUNDS = (200, 400, 800)


def curriculum_pacing_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, n_docs, n_tokens, mean_chars, cum_token_pml): the
    length-based CURRICULUM schedule — documents banded short to long
    by integer n_chars thresholds, with per-stage doc/token mass and
    the cumulative token share (permille) a pacing scheduler consumes
    ("after X% of tokens, unlock stage k+1"). Length is the standard
    cheap difficulty proxy (curriculum learning, Bengio et al. '09);
    swapping in any integer difficulty score keeps the plan
    identical.

    Determinism: stage assignment compares integers; token counts are
    integer sums; mean_chars is ONE division of exact integers; the
    cumulative share is an integer division after an integer
    self-rollup over the 4-row stage frame (never an ordered float
    cumsum). Scale: one scan -> one combinable rollup to 4 rows; the
    cumulative join is 4x4."""
    docs = tables.table(spark, sf_dir, "documents")
    b1, b2, b3 = CURRICULUM_BOUNDS
    stage_ord = (
        F.when(F.col("n_chars") < b1, 1)
        .when(F.col("n_chars") < b2, 2)
        .when(F.col("n_chars") < b3, 3)
        .otherwise(4)
    )
    per = (
        docs.select(
            stage_ord.alias("stage_ord"),
            F.col("n_chars").cast("bigint").alias("nc"),
            F.size(tokens_expr()).cast("bigint").alias("nt"),
        )
        .groupBy("stage_ord")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nc").cast("bigint").alias("chars"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
        )
    )
    cum = (
        per.alias("a")
        .join(per.alias("b"), F.col("b.stage_ord") <= F.col("a.stage_ord"))
        .groupBy(F.col("a.stage_ord").alias("stage_ord"))
        .agg(F.sum(F.col("b.n_tokens")).cast("bigint").alias("cum_tokens"))
    )
    total = per.agg(F.sum("n_tokens").cast("bigint").alias("tot_tokens"))
    stage_name = F.concat(F.lit("stage"), F.col("stage_ord").cast("string"))
    return (
        per.join(cum, "stage_ord")
        .crossJoin(F.broadcast(total))
        .filter(F.col("tot_tokens") > 0)
        .select(
            stage_name.alias("stage"),
            "n_docs",
            "n_tokens",
            (F.col("chars").cast("double") / F.col("n_docs").cast("double"))
            .alias("mean_chars"),
            F.expr("(1000L * cum_tokens) div tot_tokens").alias(
                "cum_token_pml"
            ),
        )
    )


def _curriculum_oracle() -> str:
    b1, b2, b3 = CURRICULUM_BOUNDS
    return f"""
WITH banded AS (
  SELECT CASE WHEN n_chars < {b1} THEN 1
              WHEN n_chars < {b2} THEN 2
              WHEN n_chars < {b3} THEN 3
              ELSE 4 END AS stage_ord,
         CAST(n_chars AS BIGINT) AS nc,
         CAST(len(list_filter(string_split_regex(lower(text), '\\W+'),
                              x -> x <> '')) AS BIGINT) AS nt
  FROM documents
),
per AS (
  SELECT stage_ord,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(nc) AS BIGINT) AS chars,
         CAST(sum(nt) AS BIGINT) AS n_tokens
  FROM banded GROUP BY 1
),
cum AS (
  SELECT a.stage_ord, CAST(sum(b.n_tokens) AS BIGINT) AS cum_tokens
  FROM per a JOIN per b ON b.stage_ord <= a.stage_ord
  GROUP BY 1
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM per)
SELECT 'stage' || CAST(p.stage_ord AS VARCHAR) AS stage,
       p.n_docs, p.n_tokens,
       CAST(p.chars AS DOUBLE) / CAST(p.n_docs AS DOUBLE) AS mean_chars,
       (1000 * c.cum_tokens) // tot_tokens AS cum_token_pml
FROM per p JOIN cum c ON c.stage_ord = p.stage_ord
CROSS JOIN tot
WHERE tot_tokens > 0
"""


CURRICULUM_PACING_ORACLE = _curriculum_oracle()


# --------------------------------------------------------------------------
# Quality-gate ordering plan (cheapest-rejection-first cascade)
# --------------------------------------------------------------------------


def gate_ordering_plan_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(position, gate, n_pass, n_total, surviving_frac,
    expected_rows): the cascade-ordering plan for the corpus quality
    gates — measure each gate's pass count on the live corpus, order
    most-selective-first (equal per-row cost, so rejecting early is
    the whole game; ties on gate name), and emit the expected rows
    still alive after each stage under the independence
    approximation: surviving fraction = running product of per-gate
    pass rates. The audit a 100 TB ingest runs before wiring its
    filter DAG: gate order doesn't change WHAT survives, only how
    many rows each gate must touch — this table is the difference in
    scan cost.

    Gates: the Gopher word-count / mean-word-length / dup-fraction
    windows (textops constants) plus the language gate. Exactness /
    scale of the fraction: the windowed product folds a
    window-ordered collect_list (Spark ``aggregate``, DuckDB
    ``list_reduce``) of DOUBLE pass rates in a fixed order — the same
    IEEE multiply sequence on both engines, so bit-identical — and,
    unlike the earlier exact-integer pair (prod n_pass, n_total^pos),
    it cannot overflow: n_total^4 exceeds 2^63 past ~55k documents,
    where Spark (non-ANSI) wraps silently while DuckDB raises.
    Scale: ONE corpus scan computes all gate flags (map-local token
    expressions); the plan itself is a 4-row frame."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens_expr()
    n_words = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    total_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
    )
    mwl = total_chars.cast("double") / n_words
    dup_frac = F.lit(1.0) - n_distinct.cast("double") / n_words
    flags = docs.select(
        (
            (n_words >= _GOPHER_MIN_WORDS) & (n_words <= _GOPHER_MAX_WORDS)
        ).cast("int").alias("g_words"),
        F.when(
            n_words > 0, (mwl >= _GOPHER_MIN_MWL) & (mwl <= _GOPHER_MAX_MWL)
        ).otherwise(F.lit(False)).cast("int").alias("g_mwl"),
        F.when(n_words > 0, dup_frac < _GOPHER_MAX_DUP_FRAC)
        .otherwise(F.lit(False))
        .cast("int")
        .alias("g_dup"),
        (F.col("lang") == "en").cast("int").alias("g_lang"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("g_words").cast("bigint").alias("p_words"),
        F.sum("g_mwl").cast("bigint").alias("p_mwl"),
        F.sum("g_dup").cast("bigint").alias("p_dup"),
        F.sum("g_lang").cast("bigint").alias("p_lang"),
    ).filter(F.col("n_total") > 0)
    rows = None
    for gate, col in (
        ("dup_word_frac", "p_dup"),
        ("lang_en", "p_lang"),
        ("mean_word_len", "p_mwl"),
        ("word_count", "p_words"),
    ):
        r = agg.select(
            F.lit(gate).alias("gate"),
            F.col(col).alias("n_pass"),
            "n_total",
        )
        rows = r if rows is None else rows.unionAll(r)
    from pyspark.sql import Window

    w = Window.orderBy("n_pass", "gate").rowsBetween(
        Window.unboundedPreceding, 0
    )
    rated = rows.withColumn(
        "rate", F.col("n_pass").cast("double") / F.col("n_total")
    )
    planned = rated.select(
        "gate",
        "n_pass",
        "n_total",
        F.row_number()
        .over(Window.orderBy("n_pass", "gate"))
        .cast("int")
        .alias("position"),
        F.expr(
            "aggregate(collect_list(rate) over ("
            "order by n_pass, gate rows between "
            "unbounded preceding and current row), "
            "cast(1.0 as double), (a, x) -> a * x)"
        ).alias("surviving_frac"),
    )
    return planned.select(
        "position",
        "gate",
        "n_pass",
        "n_total",
        "surviving_frac",
        (
            F.col("n_total").cast("double") * F.col("surviving_frac")
        ).alias("expected_rows"),
    )


GATE_ORDERING_PLAN_ORACLE = f"""
WITH base AS (
  SELECT lang,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')
             AS toks
  FROM documents
),
flags AS (
  SELECT
    CASE WHEN len(toks) >= {_GOPHER_MIN_WORDS}
              AND len(toks) <= {_GOPHER_MAX_WORDS} THEN 1 ELSE 0 END
      AS g_words,
    CASE WHEN len(toks) > 0
              AND CAST(list_sum(list_transform(toks, x -> length(x)))
                       AS DOUBLE) / len(toks) >= {_GOPHER_MIN_MWL}
              AND CAST(list_sum(list_transform(toks, x -> length(x)))
                       AS DOUBLE) / len(toks) <= {_GOPHER_MAX_MWL}
         THEN 1 ELSE 0 END AS g_mwl,
    CASE WHEN len(toks) > 0
              AND 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                        / len(toks) < {_GOPHER_MAX_DUP_FRAC}
         THEN 1 ELSE 0 END AS g_dup,
    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g_lang
  FROM base
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(g_words) AS BIGINT) AS p_words,
         CAST(sum(g_mwl) AS BIGINT) AS p_mwl,
         CAST(sum(g_dup) AS BIGINT) AS p_dup,
         CAST(sum(g_lang) AS BIGINT) AS p_lang
  FROM flags
  HAVING count(*) > 0
),
gates AS (
  SELECT 'dup_word_frac' AS gate, p_dup AS n_pass, n_total FROM agg
  UNION ALL SELECT 'lang_en', p_lang, n_total FROM agg
  UNION ALL SELECT 'mean_word_len', p_mwl, n_total FROM agg
  UNION ALL SELECT 'word_count', p_words, n_total FROM agg
),
rated AS (
  SELECT gate, n_pass, n_total,
         CAST(n_pass AS DOUBLE) / n_total AS rate
  FROM gates
),
planned AS (
  SELECT gate, n_pass, n_total,
         CAST(row_number() OVER (ORDER BY n_pass, gate) AS INT)
           AS position,
         list_reduce(list(rate) OVER (
             ORDER BY n_pass, gate
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), (a, x) -> a * x) AS surviving_frac
  FROM rated
)
SELECT position, gate, n_pass, n_total, surviving_frac,
       CAST(n_total AS DOUBLE) * surviving_frac AS expected_rows
FROM planned
"""

# --------------------------------------------------------------------------
# Skyline (Pareto front) over (length, quality)
# --------------------------------------------------------------------------

_SKY_FP = 1_000_000_000


def skyline_quality_length_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, n_chars, q_fp, quality_score): the Pareto front of the
    corpus on (length, quality) — documents no other document beats
    on BOTH axes (with at least one strict win). The skyline operator
    from the DB literature applied to corpus curation: when a token
    budget forces choosing between long documents and clean ones, the
    skyline is exactly the set of undominated trade-offs a curator
    should pick from; everything else is strictly worse than some
    front member.

    Dominance test without a pair join: a doc is on the front iff
    (a) its quality equals the MAX quality at its own length (else a
    same-length doc strictly beats it) and (b) its quality strictly
    exceeds the running max over all LONGER lengths (else a longer
    doc weakly-dominates with a strict length win). Both reads come
    off a |distinct lengths|-sized rollup with one ordered cumulative
    max — the 2-D skyline sweep, shuffle cost = one domain rollup.

    Exactness: quality is fixed-pointed (floor(1e9 q), documented
    contract — ties at fp resolution are genuine ties and co-front);
    all comparisons integer. Equal (length, q_fp) duplicates are
    mutually non-dominating and all emit."""
    from .textops import quality_score_query

    q = quality_score_query(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    docs = tables.table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    scored = docs.join(q, "doc_id").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.floor(F.lit(float(_SKY_FP)) * F.col("quality_score"))
        .cast("bigint")
        .alias("q_fp"),
        "quality_score",
    )
    per_len = scored.groupBy("n_chars").agg(
        F.max("q_fp").cast("bigint").alias("maxq")
    )
    w = (
        Window.orderBy(F.col("n_chars").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fronts = per_len.select(
        "n_chars",
        "maxq",
        F.coalesce(
            F.max("maxq").over(w), F.lit(-(1 << 62))
        ).cast("bigint").alias("maxq_longer"),
    )
    return (
        scored.join(fronts, "n_chars")
        .filter(
            (F.col("q_fp") == F.col("maxq"))
            & (F.col("q_fp") > F.col("maxq_longer"))
        )
        .select("doc_id", "n_chars", "q_fp", "quality_score")
    )


def _skyline_oracle() -> str:
    from .textops import _EN_STOPWORDS, _sql_list

    return f"""
WITH sq_base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         list_filter(string_split_regex(lower(text), '\\W+'),
                     x -> x <> '') AS toks,
         length(text) AS n_chars_actual,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars
  FROM documents
),
scored AS (
  SELECT doc_id, n_chars,
         0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
           + 0.3 * (CAST(alpha_chars AS DOUBLE) / n_chars_actual)
           + 0.3 * (1.0 - CAST(len(list_filter(toks,
                 x -> x IN ({_sql_list(_EN_STOPWORDS)}))) AS DOUBLE)
               / len(toks)) AS quality_score
  FROM sq_base
),
fp AS (
  SELECT doc_id, n_chars,
         CAST(floor(CAST({_SKY_FP} AS DOUBLE) * quality_score) AS BIGINT)
           AS q_fp,
         quality_score
  FROM scored
),
per_len AS (
  SELECT n_chars, CAST(max(q_fp) AS BIGINT) AS maxq
  FROM fp GROUP BY 1
),
fronts AS (
  SELECT n_chars, maxq,
         CAST(COALESCE(max(maxq) OVER (
             ORDER BY n_chars DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), {-(1 << 62)}) AS BIGINT) AS maxq_longer
  FROM per_len
)
SELECT f.doc_id, f.n_chars, f.q_fp, f.quality_score
FROM fp f JOIN fronts fr ON fr.n_chars = f.n_chars
WHERE f.q_fp = fr.maxq AND f.q_fp > fr.maxq_longer
"""


SKYLINE_QUALITY_LENGTH_ORACLE = _skyline_oracle()

# --------------------------------------------------------------------------
# Cost-weighted gate ordering (post-freeze: r09 material)
# --------------------------------------------------------------------------

# Relative per-row evaluation cost of each gate (units of the cheapest
# gate). Documented synthetic constants: the language gate is a column
# equality, word-count needs the token array, mean-word-length adds a
# fold over it, dup-fraction adds an array_distinct.
GATE_COSTS: dict[str, int] = {
    "lang_en": 1,
    "word_count": 2,
    "mean_word_len": 3,
    "dup_word_frac": 4,
}


def gate_ordering_cost_plan_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(position, gate, n_pass, n_total, cost, drop_per_cost,
    surviving_frac, expected_cost): the COST-AWARE cascade plan —
    gates ordered by rejection-rate per unit cost ((1 - p_i) / c_i
    descending, ties on gate name), the classic optimal rule for
    ordering independent predicates (Hellerstein's predicate
    migration in its simplest form); ``gate_ordering_plan`` is the
    equal-cost special case. ``expected_cost`` accumulates
    c_i * (surviving fraction BEFORE stage i) — the expected per-row
    scan cost of the cascade prefix, the number the two orderings
    actually compete on.

    Exactness: pass counts are exact integers off ONE corpus scan
    (the gate_ordering_plan flags); rates/ratios are single IEEE
    expressions; the running product and cost accumulation fold
    window-ordered lists (the overflow-free gate_ordering_plan
    form). Scale: one corpus scan, then a 4-row plan frame."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens_expr()
    n_words = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    total_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
    )
    mwl = total_chars.cast("double") / n_words
    dup_frac = F.lit(1.0) - n_distinct.cast("double") / n_words
    flags = docs.select(
        (
            (n_words >= _GOPHER_MIN_WORDS) & (n_words <= _GOPHER_MAX_WORDS)
        ).cast("int").alias("g_words"),
        F.when(
            n_words > 0, (mwl >= _GOPHER_MIN_MWL) & (mwl <= _GOPHER_MAX_MWL)
        ).otherwise(F.lit(False)).cast("int").alias("g_mwl"),
        F.when(n_words > 0, dup_frac < _GOPHER_MAX_DUP_FRAC)
        .otherwise(F.lit(False))
        .cast("int")
        .alias("g_dup"),
        (F.col("lang") == "en").cast("int").alias("g_lang"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("g_words").cast("bigint").alias("p_words"),
        F.sum("g_mwl").cast("bigint").alias("p_mwl"),
        F.sum("g_dup").cast("bigint").alias("p_dup"),
        F.sum("g_lang").cast("bigint").alias("p_lang"),
    ).filter(F.col("n_total") > 0)
    rows = None
    for gate, col in (
        ("dup_word_frac", "p_dup"),
        ("lang_en", "p_lang"),
        ("mean_word_len", "p_mwl"),
        ("word_count", "p_words"),
    ):
        r = agg.select(
            F.lit(gate).alias("gate"),
            F.col(col).alias("n_pass"),
            "n_total",
            F.lit(GATE_COSTS[gate]).cast("bigint").alias("cost"),
        )
        rows = r if rows is None else rows.unionAll(r)
    rated = rows.select(
        "gate",
        "n_pass",
        "n_total",
        "cost",
        (F.col("n_pass").cast("double") / F.col("n_total")).alias("rate"),
        (
            (F.lit(1.0) - F.col("n_pass").cast("double") / F.col("n_total"))
            / F.col("cost").cast("double")
        ).alias("drop_per_cost"),
    )
    order = Window.orderBy(F.col("drop_per_cost").desc(), "gate")
    planned = rated.select(
        "gate",
        "n_pass",
        "n_total",
        "cost",
        "drop_per_cost",
        F.row_number().over(order).cast("int").alias("position"),
        F.expr(
            "aggregate(collect_list(rate) over ("
            "order by drop_per_cost desc, gate rows between "
            "unbounded preceding and current row), "
            "cast(1.0 as double), (a, x) -> a * x)"
        ).alias("surviving_frac"),
    )
    # expected cost of the prefix: sum over stages j <= i of
    # c_j * (surviving fraction BEFORE stage j) — lag the running
    # product by one stage and take an ordered running sum (fixed
    # order, so the float accumulation is engine-identical)
    po = Window.orderBy("position")
    cum = Window.orderBy("position").rowsBetween(
        Window.unboundedPreceding, 0
    )
    costed = planned.select(
        "position",
        "gate",
        "n_pass",
        "n_total",
        "cost",
        "drop_per_cost",
        "surviving_frac",
        (
            F.col("cost").cast("double")
            * F.coalesce(F.lag("surviving_frac").over(po), F.lit(1.0))
        ).alias("stage_cost"),
    )
    return costed.select(
        "position",
        "gate",
        "n_pass",
        "n_total",
        "cost",
        "drop_per_cost",
        "surviving_frac",
        F.sum("stage_cost").over(cum).alias("expected_cost"),
    )


def _gate_cost_oracle() -> str:
    cost_case = " ".join(
        f"WHEN gate = '{g}' THEN {c}" for g, c in GATE_COSTS.items()
    )
    return f"""
WITH base AS (
  SELECT lang,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')
             AS toks
  FROM documents
),
flags AS (
  SELECT
    CASE WHEN len(toks) >= {_GOPHER_MIN_WORDS}
              AND len(toks) <= {_GOPHER_MAX_WORDS} THEN 1 ELSE 0 END
      AS g_words,
    CASE WHEN len(toks) > 0
              AND CAST(list_sum(list_transform(toks, x -> length(x)))
                       AS DOUBLE) / len(toks) >= {_GOPHER_MIN_MWL}
              AND CAST(list_sum(list_transform(toks, x -> length(x)))
                       AS DOUBLE) / len(toks) <= {_GOPHER_MAX_MWL}
         THEN 1 ELSE 0 END AS g_mwl,
    CASE WHEN len(toks) > 0
              AND 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                        / len(toks) < {_GOPHER_MAX_DUP_FRAC}
         THEN 1 ELSE 0 END AS g_dup,
    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g_lang
  FROM base
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(g_words) AS BIGINT) AS p_words,
         CAST(sum(g_mwl) AS BIGINT) AS p_mwl,
         CAST(sum(g_dup) AS BIGINT) AS p_dup,
         CAST(sum(g_lang) AS BIGINT) AS p_lang
  FROM flags
  HAVING count(*) > 0
),
gates AS (
  SELECT 'dup_word_frac' AS gate, p_dup AS n_pass, n_total FROM agg
  UNION ALL SELECT 'lang_en', p_lang, n_total FROM agg
  UNION ALL SELECT 'mean_word_len', p_mwl, n_total FROM agg
  UNION ALL SELECT 'word_count', p_words, n_total FROM agg
),
rated AS (
  SELECT gate, n_pass, n_total,
         CAST(CASE {cost_case} END AS BIGINT) AS cost,
         CAST(n_pass AS DOUBLE) / n_total AS rate,
         (1.0 - CAST(n_pass AS DOUBLE) / n_total)
           / CAST(CASE {cost_case} END AS DOUBLE) AS drop_per_cost
  FROM gates
),
planned AS (
  SELECT gate, n_pass, n_total, cost, drop_per_cost,
         CAST(row_number() OVER w AS INT) AS position,
         list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
             list(rate) OVER w), (a, x) -> a * x) AS surviving_frac
  FROM rated
  WINDOW w AS (ORDER BY drop_per_cost DESC, gate
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
costed AS (
  SELECT position, gate, n_pass, n_total, cost, drop_per_cost,
         surviving_frac,
         CAST(cost AS DOUBLE)
           * COALESCE(lag(surviving_frac) OVER (ORDER BY position), 1.0)
           AS stage_cost
  FROM planned
)
SELECT position, gate, n_pass, n_total, cost, drop_per_cost,
       surviving_frac,
       sum(stage_cost) OVER (ORDER BY position
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS expected_cost
FROM costed
"""


GATE_ORDERING_COST_PLAN_ORACLE = _gate_cost_oracle()

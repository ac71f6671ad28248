"""Multinomial Naive Bayes, trained AND evaluated as pure
aggregation — the "model training is a groupBy" demonstration.

A production corpus pipeline ships a cheap supervised classifier
(fastText-style) for language/quality routing. The Spark-first
formulation of its simplest member: multinomial NB over hashed token
features IS two partial-aggregatable rollups (per-(label, bucket)
counts + per-label totals), and inference IS a broadcast join + sum +
argmax window. No Python in the loop, no MLlib dependency, no
iterative solver — train and eval run in ONE declarative plan over a
hash split, and the whole thing is cross-engine hash-checked.

Determinism contract: the split and the feature hash are md5-derived
(engine-independent); every likelihood is the add-1-smoothed rational
(c+1)/(n_label + B) fixed-pointed as floor(1e6*ln(.)) on exact
integers (the lm.py contract), so per-(doc, label) scores are exact
integer sums and the argmax (ties broken on label asc) is
bit-stable.

Scale: feature extraction is map-local; the model is at most
|labels| x NB_BUCKETS rows (constant — broadcast at any corpus
size); scoring fans each test token out |labels| ways (small constant)
against the broadcast model and partial-aggregates per (doc, label);
the confusion rollup is |labels|^2. The corpus is scanned once for
training and once for scoring; nothing is ever label-quadratic or
driver-side.

No reference analog (SURVEY.md §2.8 beyond-reference tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..functions.xhash import hash60_duck, hash60_spark
from ..registry import query
from .textops import tokens_expr

NB_BUCKETS = 1024
NB_TEST_PCT = 30
_NB_SPLIT_SEED = 53

_LN_SPARK = (
    "cast(floor(1e6 * ln(cast({a} as double) / cast({b} as double)))"
    " as bigint)"
)
_LN_DUCK = (
    "CAST(floor(1e6 * ln(CAST({a} AS DOUBLE) / CAST({b} AS DOUBLE)))"
    " AS BIGINT)"
)

_DUCK_TOKS = (
    "list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')"
)


@query()
def nb_lang_confusion_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(true_lang, pred_lang, n_docs): the held-out confusion matrix
    of a multinomial NB language classifier trained on the ~70% train
    split of the corpus (hash split on doc_id) with hashed-unigram
    features. Diagonal mass is the classifier's accuracy
    decomposition; off-diagonal cells are the confusion audit a
    routing pipeline alarms on."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    base = docs.select(
        "doc_id",
        "lang",
        F.expr(
            f"pmod({hash60_spark(f'cast(doc_id as string)', _NB_SPLIT_SEED)},"
            " 100)"
        ).alias("h"),
        tokens_expr().alias("toks"),
    )
    feats = base.select(
        "doc_id",
        "lang",
        "h",
        F.explode("toks").alias("tok"),
    ).select(
        "doc_id",
        "lang",
        "h",
        F.expr(
            "cast(conv(substring(md5(concat('nbf|', tok)), 1, 8), 16, 10)"
            f" as bigint) % {NB_BUCKETS}"
        ).alias("bucket"),
    )
    train = feats.filter(F.col("h") >= NB_TEST_PCT)
    test = feats.filter(F.col("h") < NB_TEST_PCT)

    # model: per-(lang, bucket) counts with per-lang totals attached
    counts = train.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    totals = counts.groupBy(F.col("lang").alias("t_lang")).agg(
        F.sum("c").cast("bigint").alias("n_l")
    )
    # doc-level priors over the train split
    priors = (
        base.filter(F.col("h") >= NB_TEST_PCT)
        .groupBy(F.col("lang").alias("p_lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_l"))
    )
    d_tot = priors.agg(F.sum("d_l").cast("bigint").alias("d"))
    prior_fp = (
        priors.crossJoin(F.broadcast(d_tot))
        .select(
            "p_lang",
            F.expr(_LN_SPARK.format(a="d_l", b="d")).alias("prior_fp"),
        )
    )

    # score every test token against every trained label: the fan-out
    # is |labels| (constant); unseen (lang, bucket) cells smooth to
    # (0+1)/(n_l+B) via the left join's coalesce
    langs = totals.select(
        F.col("t_lang").alias("s_lang"), "n_l"
    )
    model = counts.select(
        F.col("lang").alias("m_lang"),
        F.col("bucket").alias("m_bucket"),
        "c",
    )
    fanned = test.select(
        "doc_id", F.col("lang").alias("true_lang"), "bucket"
    ).crossJoin(F.broadcast(langs))
    scored = fanned.join(
        F.broadcast(model),
        (F.col("s_lang") == F.col("m_lang"))
        & (F.col("bucket") == F.col("m_bucket")),
        "left",
    ).select(
        "doc_id",
        "true_lang",
        "s_lang",
        F.expr(
            _LN_SPARK.format(
                a="coalesce(c, 0) + 1", b=f"n_l + {NB_BUCKETS}"
            )
        ).alias("ll_fp"),
    )
    doc_scores = (
        scored.groupBy("doc_id", "true_lang", "s_lang")
        .agg(F.sum("ll_fp").cast("bigint").alias("sum_ll"))
        .join(
            F.broadcast(prior_fp),
            F.col("s_lang") == F.col("p_lang"),
        )
        .select(
            "doc_id",
            "true_lang",
            "s_lang",
            (F.col("sum_ll") + F.col("prior_fp")).alias("score_fp"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_fp"), F.asc("s_lang")
    )
    pred = (
        doc_scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("s_lang").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


NB_LANG_CONFUSION_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang,
         {hash60_duck("CAST(doc_id AS VARCHAR)", _NB_SPLIT_SEED)} % 100 AS h,
         {_DUCK_TOKS} AS toks
  FROM documents
),
feats AS (
  SELECT doc_id, lang, h,
         CAST('0x' || substring(md5('nbf|' || tok), 1, 8) AS BIGINT)
           % {NB_BUCKETS} AS bucket
  FROM (SELECT doc_id, lang, h, unnest(toks) AS tok FROM base)
),
counts AS (
  SELECT lang, bucket, CAST(count(*) AS BIGINT) AS c
  FROM feats WHERE h >= {NB_TEST_PCT} GROUP BY 1, 2
),
totals AS (
  SELECT lang AS s_lang, CAST(sum(c) AS BIGINT) AS n_l
  FROM counts GROUP BY 1
),
priors AS (
  SELECT lang AS p_lang, CAST(count(*) AS BIGINT) AS d_l
  FROM base WHERE h >= {NB_TEST_PCT} GROUP BY 1
),
d_tot AS (SELECT CAST(sum(d_l) AS BIGINT) AS d FROM priors),
prior_fp AS (
  SELECT p_lang, {_LN_DUCK.format(a="d_l", b="d")} AS prior_fp
  FROM priors CROSS JOIN d_tot
),
scored AS (
  SELECT f.doc_id, f.lang AS true_lang, t.s_lang,
         {_LN_DUCK.format(a="coalesce(c.c, 0) + 1",
                          b=f"t.n_l + {NB_BUCKETS}")} AS ll_fp
  FROM feats f
  CROSS JOIN totals t
  LEFT JOIN counts c ON c.lang = t.s_lang AND c.bucket = f.bucket
  WHERE f.h < {NB_TEST_PCT}
),
doc_scores AS (
  SELECT s.doc_id, s.true_lang, s.s_lang,
         CAST(sum(s.ll_fp) AS BIGINT) + p.prior_fp AS score_fp
  FROM scored s JOIN prior_fp p ON p.p_lang = s.s_lang
  GROUP BY s.doc_id, s.true_lang, s.s_lang, p.prior_fp
),
pred AS (
  SELECT true_lang, s_lang AS pred_lang FROM (
    SELECT true_lang, s_lang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score_fp DESC, s_lang ASC) AS rn
    FROM doc_scores
  ) WHERE rn = 1
)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY 1, 2
"""

"""Feature engineering for training-data pipelines: leakage-safe
target encoding and hashing-trick features.

Both are the batch feature-materialization shapes an ML data platform
runs over event/text corpora before training; neither exists in the
reference (a Kafka Streams scaffold with no feature tier) — they
extend the north-star surface alongside the curation/sampling
operators.

Scale/determinism contract (module conventions): all target sums are
fixed-point cents (floor(value*100) per row, exact BIGINT
aggregation), folds and hash buckets come from the engine-independent
``hash60`` (md5-derived — identical on Spark and DuckDB), and every
aggregate is partial-aggregatable, so results are bit-stable under
any partitioning on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..functions.xhash import hash60_duck, hash60_spark
from ..registry import query

N_FOLDS = 5
_FOLD_SEED = 31
HASH_BUCKETS = 256
_FH_SEED = 37


# --------------------------------------------------------------------------
# K-fold leave-out target encoding
# --------------------------------------------------------------------------

@query()
def target_encoding_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, fold, n_rows, encoding_cents): the leakage-safe
    mean-target encoding table — for every (category, fold), the mean
    target over all OTHER folds' rows of that category, i.e.
    ``(sum_total - sum_fold) / (n_total - n_fold)``. A training row in
    fold f looks up (category, f), so its own fold's targets never
    leak into its feature (the standard K-fold out-of-fold scheme).

    Rows with a category seen in only one fold would divide by zero;
    the encoding falls back to the global (all-category) out-of-fold
    mean — the same prior a production encoder backs off to for rare
    categories.

    One pass over events builds per-(category, fold) partial sums;
    the category totals and the output derive from that K x
    |categories| frame — the corpus is scanned once and the encoding
    table is tiny (broadcast-joinable back onto any training scan).
    """
    ev = tables.table(spark, sf_dir, "events")
    fold = F.expr(
        f"pmod({hash60_spark('cast(event_id as string)', _FOLD_SEED)},"
        f" {N_FOLDS})"
    ).cast("int")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    per_fold = (
        ev.select(
            F.col("event_type"), fold.alias("fold"), cents.alias("cents")
        )
        .groupBy("event_type", "fold")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("s"),
        )
    )
    totals = per_fold.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("tot_n"),
        F.sum("s").cast("bigint").alias("tot_s"),
    )
    grand = per_fold.groupBy().agg(
        F.sum("n").cast("bigint").alias("g_n"),
        F.sum("s").cast("bigint").alias("g_s"),
    )
    out_n = F.col("tot_n") - F.col("n")
    out_s = F.col("tot_s") - F.col("s")
    # Rare-category fallback: global out-of-fold mean for this fold.
    g_out_n = F.col("g_n") - F.col("n")
    g_out_s = F.col("g_s") - F.col("s")
    enc = F.when(
        out_n > 0, out_s.cast("double") / out_n.cast("double")
    ).otherwise(g_out_s.cast("double") / g_out_n.cast("double"))
    return (
        per_fold.join(totals, "event_type")
        .crossJoin(F.broadcast(grand))
        .select(
            "event_type",
            "fold",
            F.col("n").cast("bigint").alias("n_rows"),
            enc.alias("encoding_cents"),
        )
    )


TARGET_ENCODING_ORACLE = f"""
WITH per_fold AS (
  SELECT event_type,
         CAST({hash60_duck('CAST(event_id AS VARCHAR)', _FOLD_SEED)}
              % {N_FOLDS} AS INT) AS fold,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s
  FROM events
  GROUP BY 1, 2
),
totals AS (
  SELECT event_type,
         CAST(sum(n) AS BIGINT) AS tot_n,
         CAST(sum(s) AS BIGINT) AS tot_s
  FROM per_fold GROUP BY 1
),
grand AS (
  SELECT CAST(sum(n) AS BIGINT) AS g_n, CAST(sum(s) AS BIGINT) AS g_s
  FROM per_fold
)
SELECT p.event_type, p.fold, p.n AS n_rows,
       CASE WHEN t.tot_n - p.n > 0
            THEN CAST(t.tot_s - p.s AS DOUBLE) / CAST(t.tot_n - p.n AS DOUBLE)
            ELSE CAST(g.g_s - p.s AS DOUBLE) / CAST(g.g_n - p.n AS DOUBLE)
       END AS encoding_cents
FROM per_fold p
JOIN totals t ON t.event_type = p.event_type
CROSS JOIN grand g
"""


# --------------------------------------------------------------------------
# Hashing-trick bag-of-words features
# --------------------------------------------------------------------------

@query()
def feature_hashing_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bucket, weight): sparse hashed bag-of-words rows —
    every token hashed into HASH_BUCKETS buckets, per-(doc, bucket)
    counts. The hashing trick bounds feature width regardless of
    vocabulary size (collisions are the accepted trade), which is
    what makes it the 100 TB-safe featurizer: no vocabulary dictionary
    to build, broadcast, or grow — one stateless scan, one
    partial-aggregatable groupBy on (doc, bucket), output rows bounded
    by min(doc_tokens, HASH_BUCKETS) per document."""
    from .textops import tokens_expr

    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", F.explode(tokens_expr()).alias("tok"))
    bucket = F.expr(
        f"pmod({hash60_spark('tok', _FH_SEED)}, {HASH_BUCKETS})"
    ).cast("int")
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


FEATURE_HASHING_ORACLE = f"""
SELECT doc_id,
       CAST({hash60_duck('tok', _FH_SEED)} % {HASH_BUCKETS} AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS weight
FROM (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                            x -> x <> '')) AS tok
  FROM documents
)
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Calibration audit: train-fold model scored on the held-out fold
# --------------------------------------------------------------------------

_CAL_SEED = 43
TEST_PCT = 20  # held-out slice, percent of orders
CAL_BUCKETS = 10
_CAL_FP = 10**6


@query()
def calibration_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_test, avg_pred, actual_rate, brier): the reliability
    table + Brier score of a leakage-free categorical rate model — the
    eval loop every target-encoded feature should close before
    shipping. Model: P(order is 1-URGENT | mktsegment, nation),
    estimated on the hash-split TRAIN fold with add-1 (Laplace)
    smoothing; every TEST-fold order is scored by its group's trained
    rate, bucketed into CAL_BUCKETS prediction deciles, and each
    bucket reports its mean prediction vs realized urgent rate (the
    reliability curve; |avg_pred - actual_rate| is the calibration
    gap) plus its Brier contribution. Test-fold groups never seen in
    train are excluded (the standard cold-group carve-out; identical
    on both engines via the inner model join).

    Fully EXACT cross-engine: the smoothed rate is the integer pair
    (k+1, n+2); pred_fp = (1e6*(k+1)) div (n+2) and the decile
    bucket = (10*(k+1)) div (n+2) are exact integer division; the
    per-row squared error (pred_fp - label*1e6)^2 is an exact BIGINT
    summed in DECIMAL(38,0). No ln, no float accumulation — the only
    divisions are the three final per-bucket reports.

    Scale: one orders-customer equi-join (sort-merge on custkey; the
    attribute projection is 3 narrow columns), one partial-
    aggregatable rollup to |segment x nation| model rows (tiny —
    broadcast back), map-side scoring, and a CAL_BUCKETS-row final
    rollup. The fact table shuffles once (the join); nothing is
    driver-side."""
    orders = tables.table(spark, sf_dir, "orders")
    cust = tables.table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("y"),
        F.expr(
            f"pmod({hash60_spark('cast(o_orderkey as string)', _CAL_SEED)},"
            " 100)"
        ).alias("h"),
    ).join(cust, F.col("o_custkey") == F.col("c_custkey"))
    train = base.filter(F.col("h") >= TEST_PCT)
    test = base.filter(F.col("h") < TEST_PCT)
    model = (
        train.groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tr"),
            F.sum("y").cast("bigint").alias("k_tr"),
        )
        .select(
            "c_mktsegment",
            "c_nationkey",
            F.expr(f"({_CAL_FP} * (k_tr + 1)) div (n_tr + 2)").alias(
                "pred_fp"
            ),
            F.expr(f"({CAL_BUCKETS} * (k_tr + 1)) div (n_tr + 2)")
            .cast("int")
            .alias("bucket"),
        )
    )
    return (
        test.join(F.broadcast(model), ["c_mktsegment", "c_nationkey"])
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum("pred_fp").cast("bigint").alias("sp"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(
                F.expr(
                    f"(pred_fp - y * {_CAL_FP}) * (pred_fp - y * {_CAL_FP})"
                )
            )
            .cast("decimal(38,0)")
            .alias("sq"),
        )
        .select(
            "bucket",
            "n_test",
            F.expr(
                f"cast(sp as double) / (cast(n_test as double) * {_CAL_FP}.0d)"
            ).alias("avg_pred"),
            F.expr(
                "cast(sy as double) / cast(n_test as double)"
            ).alias("actual_rate"),
            F.expr(
                f"cast(sq as double)"
                f" / (cast(n_test as double) * {_CAL_FP}.0d * {_CAL_FP}.0d)"
            ).alias("brier"),
        )
    )


CALIBRATION_AUDIT_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(o_orderpriority = '1-URGENT' AS INT) AS y,
         {hash60_duck('CAST(o_orderkey AS VARCHAR)', _CAL_SEED)} % 100 AS h,
         c_mktsegment, c_nationkey
  FROM orders JOIN customer ON o_custkey = c_custkey
),
model AS (
  SELECT c_mktsegment, c_nationkey,
         ({_CAL_FP} * (CAST(sum(y) AS BIGINT) + 1))
           // (CAST(count(*) AS BIGINT) + 2) AS pred_fp,
         CAST(({CAL_BUCKETS} * (CAST(sum(y) AS BIGINT) + 1))
           // (CAST(count(*) AS BIGINT) + 2) AS INT) AS bucket
  FROM base WHERE h >= {TEST_PCT}
  GROUP BY 1, 2
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(pred_fp) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * {_CAL_FP}.0) AS avg_pred,
       CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS actual_rate,
       CAST(sum(CAST((pred_fp - y * {_CAL_FP})
                * (pred_fp - y * {_CAL_FP}) AS DECIMAL(38,0)))
            AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * {_CAL_FP}.0 * {_CAL_FP}.0) AS brier
FROM base JOIN model USING (c_mktsegment, c_nationkey)
WHERE h < {TEST_PCT}
GROUP BY bucket
"""

"""Range / interval joins (SURVEY.md §2.8 gap inventory; the reference
has no joins at all — `streams/*Topology.java` never calls `join`).

Two shapes, two physical strategies:

- **Equi + range** (`prior_clicks_before_error`): the range predicate
  rides on an equi-key (user_id), so it's an ordinary shuffled join
  with the time condition as a residual filter — the shuffle is on the
  high-cardinality user key, which is exactly what scales.

- **Pure interval join** (`error_window_counts`): no equi key exists.
  A naive theta-join is a cartesian product (O(n²) — Spark would plan
  BroadcastNestedLoopJoin and die at scale). The scale path is
  *bucketization*: quantize time to buckets no finer than the window
  length (here 1 hour for a 15-minute window), explode each interval
  to the (≤2, deduplicated) buckets it touches, equi-join on the
  bucket, then apply the exact range predicate as a residual. Each
  probe-side row lands in exactly one bucket, so no pair is counted
  twice. Join fan-out is bounded by events-per-hour — a partitionable,
  AQE-splittable quantity at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..registry import query

# --------------------------------------------------------------------------
# Equi + range: clicks by the same user in the 10 minutes before an error
# --------------------------------------------------------------------------


@query()
def prior_clicks_before_error_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id"), F.col("user_id").alias("err_user"), F.col("ts").alias("err_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    lower_bound = F.col("err_ts") - F.expr("INTERVAL 10 MINUTES")
    joined = errors.join(
        clicks,
        (F.col("err_user") == F.col("c_user"))
        & (F.col("c_ts") >= lower_bound)
        & (F.col("c_ts") < F.col("err_ts")),
        "left",
    )
    return joined.groupBy("event_id").agg(
        F.count("c_user").alias("n_prior_clicks")
    )


PRIOR_CLICKS_BEFORE_ERROR_ORACLE = """
SELECT e.event_id, COUNT(c.user_id) AS n_prior_clicks
FROM events e
LEFT JOIN events c
  ON c.user_id = e.user_id
 AND c.event_type = 'click'
 AND c.ts >= e.ts - INTERVAL 10 MINUTE
 AND c.ts <  e.ts
WHERE e.event_type = 'error'
GROUP BY e.event_id
"""


# --------------------------------------------------------------------------
# Pure interval join, bucketized: events inside each error's 15-min window
# --------------------------------------------------------------------------

_WINDOW = "INTERVAL 15 MINUTES"


@query()
def error_window_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every error event: how many events (any user, any type,
    including the error itself) fall in [ts, ts + 15 min).

    The interval side explodes to the distinct hour buckets its window
    touches (at most 2; `array_distinct` collapses windows contained
    in a single hour so no pair can match twice); the point side maps
    each event to its single hour bucket. The join is then a plain
    equi-join on the bucket with the exact window predicate as a
    residual — never a cartesian product.
    """
    ev = tables.table(spark, sf_dir, "events")
    end = F.col("err_ts") + F.expr(_WINDOW)
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts"))
        .withColumn(
            "bucket",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.date_trunc("hour", F.col("err_ts")),
                        F.date_trunc("hour", end),
                    )
                )
            ),
        )
    )
    points = ev.select(
        F.col("event_id").alias("x_id"),
        F.col("ts").alias("x_ts"),
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
    )
    joined = errors.join(
        points,
        (errors.bucket == points.bucket)
        & (F.col("x_ts") >= F.col("err_ts"))
        & (F.col("x_ts") < F.col("err_ts") + F.expr(_WINDOW)),
        "left",
    )
    return (
        joined.groupBy("err_id")
        .agg(F.count("x_id").alias("n_events"))
        .withColumnRenamed("err_id", "event_id")
    )


ERROR_WINDOW_COUNTS_ORACLE = """
SELECT e.event_id, COUNT(x.event_id) AS n_events
FROM events e
LEFT JOIN events x
  ON x.ts >= e.ts AND x.ts < e.ts + INTERVAL 15 MINUTE
WHERE e.event_type = 'error'
GROUP BY e.event_id
"""

"""Stateless record transforms + the poison-pill resilience policy.

Covers SURVEY.md §2 items:
- P2  mapValues uppercase (``main/Uppercase.java:33-36``)
- P3  dynamic-JSON enrich: add ``"processed": true``
      (``serde/JsonObjectSerdeTests.java:55,61-64``)
- P7/R1  poison-pill skip: the reference throws on the literal
  ``"quack"`` and its uncaught-exception handler commits the failed
  offset and replaces the thread — net effect: the record is DROPPED
  and the stream continues
  (``resilience/ReplaceThreadExceptionHandler.java:8-17``). In Spark
  the *policy* (drop-and-continue) is expressed declaratively as a
  filter + quarantine split — deterministic, no thread races, and it
  stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..registry import query

POISON_VALUE = "quack"


def is_poison(col: F.Column) -> F.Column:
    return F.lower(F.trim(col)) == POISON_VALUE


def uppercase(df: DataFrame, value_col: str = "text") -> DataFrame:
    """mapValues(toUpperCase) with the poison-pill skip policy applied."""
    return df.filter(~is_poison(F.col(value_col))).withColumn(
        "value", F.upper(F.col(value_col))
    )


def quarantine(df: DataFrame, value_col: str = "text") -> DataFrame:
    """The records the policy dropped, with their provenance — the
    Spark analog of the handler's topic/partition/offset log line
    (``ReplaceThreadExceptionHandler.java:10-12``). In streaming this
    is written to a dead-letter sink instead of being logged."""
    return df.filter(is_poison(F.col(value_col)))


@query()
def uppercase_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.table(spark, sf_dir, "documents")
    return uppercase(docs).select("doc_id", "value")


def json_enrich(df: DataFrame, props_col: str = "props") -> DataFrame:
    """Dynamic-JSON mutate (P3): parse what we need, preserve the
    payload, append ``processed: true``. The JSON text is rebuilt with
    an explicit, deterministic rendering (no engine-specific JSON
    serializer quirks)."""
    k = F.get_json_object(F.col(props_col), "$.k").cast("long")
    return df.select(
        F.col("event_id"),
        k.alias("k"),
        F.lit(True).alias("processed"),
        F.concat(
            F.lit('{"k": '), k.cast("string"), F.lit(', "processed": true}')
        ).alias("json_out"),
    )


@query()
def json_enrich_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return json_enrich(tables.table(spark, sf_dir, "events"))


UPPERCASE_ORACLE = """
SELECT doc_id, upper(text) AS value
FROM documents
WHERE NOT (lower(trim(text)) = 'quack')
"""

JSON_ENRICH_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       true AS processed,
       '{"k": ' || CAST(json_extract_string(props, '$.k') AS BIGINT)
           || ', "processed": true}' AS json_out
FROM events
"""


@query()
def json_props_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless-JSON aggregation (E2/P3 composed): extract a field
    from the dynamic ``props`` payload and aggregate it per event
    type — the pattern a JsonObjectSerde consumer ends up writing by
    hand, here one declarative plan. ``get_json_object`` evaluates
    inside codegen; no UDF, no full-payload parse (path extraction
    short-circuits)."""
    ev = tables.table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


JSON_PROPS_STATS_ORACLE = """
SELECT event_type,
       count(k) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
GROUP BY event_type
"""


def peek(df: DataFrame, name: str = "peek") -> tuple[DataFrame, "Observation"]:
    """P5 ``peek`` parity (``WordCountTopology.java:35``,
    ``PurchasesTopology.java:69``): the reference logs every record as
    a side effect. Per-record side effects don't exist in a vectorized
    engine; the Spark-native equivalent is an ``Observation`` — named
    metrics computed inline with the plan (no extra pass, no action),
    readable after the first action completes. Streaming variant:
    ``df.observe(name, ...)`` surfaces the same metrics in each
    ``StreamingQueryProgress.observedMetrics`` (see streaming/audit)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        # DISTINCT aggregates are disallowed in observed metrics;
        # the HLL sketch is the observable form.
        F.approx_count_distinct(F.col(df.columns[0])).alias("n_distinct_first_col"),
    )
    return observed, obs

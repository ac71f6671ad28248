"""Purchases aggregation — the reference's stateful-aggregate topology.

Reference semantics (``streams/PurchasesTopology.java:57-70``):
selectKey to compound key ``"{customerId}-{productId}"`` (:59) ->
explicit repartition (:60, manual skew mitigation per the design note
at :39-47) -> groupByKey -> aggregate ``{count+=1; total+=quantity}``
(:62-66, initializer :75-80) -> toStream -> sink.

Driver mapping (FIXTURES.md F2): events(user_id ≈ customerId,
event_type ≈ productId, value ≈ quantity).

Spark-first design notes:
- The explicit ``repartition()`` disappears: groupBy inserts the
  shuffle, and the *compound* key already spreads a hot customer
  across partitions — the same skew fix the reference hand-built.
  Residual skew is handled by AQE skew splitting at runtime.
- ``aggregate(init, adder)`` decomposes into built-in ``count`` +
  ``sum`` so the whole aggregate stays in whole-stage codegen with
  map-side partial aggregation — no Python in the hot path.
- Sums are computed in DECIMAL(18,2) (values are 2-decimal money-like
  quantities) so results are bit-identical across engines and across
  partition orderings — float summation order would not be.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..registry import query


def select_compound_key(
    df: DataFrame, customer_col: str = "user_id", product_col: str = "event_type"
) -> DataFrame:
    """selectKey analog (P4, ``PurchasesTopology.java:59``)."""
    return df.withColumn(
        "key", F.concat_ws("-", F.col(customer_col), F.col(product_col))
    )


def aggregate_count_and_total(df: DataFrame, quantity_col: str = "value") -> DataFrame:
    """aggregate -> CountAndTotal analog (A2, ``PurchasesTopology.java:62-66``)."""
    return df.groupBy("key").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col(quantity_col).cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


@query()
def purchases_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = tables.table(spark, sf_dir, "events")
    return aggregate_count_and_total(select_compound_key(events))


def range_scan(agg: DataFrame, customer_key: str) -> DataFrame:
    """Prefix range scan (Q2, ``PurchasesService.java:100-123``):
    ``store.range(cust+"-00000", cust+"-99999")`` becomes a prefix
    predicate. ``LIKE 'cust-%'`` is sargable (StartsWith pushes into
    the parquet scan as a string-range filter)."""
    return agg.filter(F.col("key").startswith(f"{customer_key}-"))


@query(name="purchases_range_scan")
def range_scan_query(spark: SparkSession, sf_dir: str, customer: str = "7") -> DataFrame:
    return range_scan(purchases_agg_query(spark, sf_dir), customer)


PURCHASES_AGG_ORACLE = """
SELECT CAST(user_id AS VARCHAR) || '-' || event_type AS key,
       count(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events
GROUP BY 1
"""

RANGE_SCAN_ORACLE = """
SELECT * FROM (
  SELECT CAST(user_id AS VARCHAR) || '-' || event_type AS key,
         count(*) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events
  GROUP BY 1
)
WHERE key LIKE '7-%'
"""

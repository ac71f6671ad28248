"""Changelog/KTable semantics in batch: latest value per key.

The reference's KTable is a changelog view — the latest value per key
(`streams/PurchasesTopology.java:57`, `WordCountTopology.java:33`; the
reference's own test asserts exactly last-value-per-key via
`readKeyValuesToMap()` at `WordCountTopologyTest.java:46-52`). The
streaming layer realizes it as `outputMode("update")` + upsert stores
(`streaming/serving.py`); this operator is the batch materialization:
compact an event log to its final state.

Implemented as `row_number() == 1` over (key, ts DESC, id DESC): one
shuffle on the key, per-partition sort, no global sort. The unique id
in the sort is the determinism tiebreak for same-timestamp updates —
Kafka would break ties by offset; event_id plays that role here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..registry import query


def latest_per_key(df: DataFrame, key: str, order: list[str]) -> DataFrame:
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@query()
def ktable_latest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.table(spark, sf_dir, "events")
    return latest_per_key(ev, "user_id", ["ts", "event_id"]).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


KTABLE_LATEST_ORACLE = """
SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
WHERE rn = 1
"""

"""WordCount — the reference's flagship topology, Spark-first.

Reference semantics (``streams/WordCountTopology.java:29-36``):
source -> flatMapValues(lowercase, split on ``\\W+``) -> groupBy(word)
-> count() materialized to the queryable store ``demo-wordcount-store``.

Spark mapping: one declarative plan — ``explode(split(lower(text)))``
then ``groupBy(word).count()``. Java's ``String.split`` drops trailing
empty tokens but keeps a leading empty token when the line starts with
a non-word char; we filter *all* empty tokens, matching what the
reference's own golden tests observe (words only,
``WordCountTopologyTest.java:46-52``).

Scale: the explode is pipelined inside whole-stage codegen; the only
shuffle is the partial-aggregated (map-side combined) hash aggregate on
``word`` — the same shape Kafka Streams achieves with its repartition
topic, minus a broker round-trip. Word-frequency skew (stopwords) is
absorbed by the partial aggregate: each task pre-counts locally so the
hot key ships one row per task, not one row per occurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..registry import query

WORD_PATTERN = r"\W+"


def tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """flatMapValues analog (P1): one row per non-empty lowercase token."""
    return df.select(
        F.explode(F.split(F.lower(F.col(text_col)), WORD_PATTERN)).alias("word")
    ).filter(F.col("word") != "")


def wordcount(df: DataFrame, text_col: str = "text") -> DataFrame:
    """groupBy(word).count() — A1 (``WordCountTopology.java:33``)."""
    return tokens(df, text_col).groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


@query()
def wordcount_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wordcount(tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id"))


def point_lookup(df: DataFrame, word: str) -> DataFrame:
    """Interactive-query point read (Q1, ``WordCountService.java:88-108``):
    ``store.get(key)`` becomes a predicate the aggregate's input scan can
    push down — Catalyst prunes to the single key before counting."""
    return df.filter(F.col("word") == word)


@query(name="wordcount_point_lookup")
def point_lookup_query(spark: SparkSession, sf_dir: str, word: str = "spark") -> DataFrame:
    return point_lookup(wordcount_query(spark, sf_dir), word)


WORDCOUNT_ORACLE = """
SELECT word, count(*) AS cnt
FROM (
  SELECT unnest(string_split_regex(lower(text), '\\W+')) AS word
  FROM documents
)
WHERE word <> ''
GROUP BY word
"""

POINT_LOOKUP_ORACLE = """
SELECT word, count(*) AS cnt
FROM (
  SELECT unnest(string_split_regex(lower(text), '\\W+')) AS word
  FROM documents
)
WHERE word = 'spark'
GROUP BY word
"""

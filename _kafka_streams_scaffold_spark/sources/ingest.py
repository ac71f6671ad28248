"""File-format ingestion with corrupt-record quarantine.

A 100 TB corpus arrives as whatever the upstream produced — JSONL
dumps, CSV exports, parquet/ORC stages — and a pipeline that aborts
on the first malformed row (Spark 4's default ANSI posture) never
finishes a crawl-scale load. The loaders here follow one contract:

- PERMISSIVE parse with an explicit ``_corrupt_record`` column, so a
  bad row becomes DATA (the raw line, quarantined with provenance)
  instead of an exception — the ingestion-time analogue of the
  poison-pill policy the reference applies in-stream
  (``resilience/ReplaceThreadExceptionHandler.java:8-17``; same
  skip-and-continue semantics, but the skipped record is kept).
- Explicit schemas always: schema inference is a full extra pass at
  scale AND nondeterministic under sampling; ingestion declares what
  it expects and quarantines what disagrees.

``split_quarantine`` returns (clean, quarantined) so callers can land
both — the quarantine table is the debugging surface when an upstream
format drifts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pinning import pin

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """JSON-lines with quarantine: rows that fail to parse (or fail
    the declared schema) carry the raw line in ``_corrupt_record``
    and NULL data columns."""
    full_schema = f"{schema}, {CORRUPT_COL} string"
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_csv(
    spark: SparkSession, path: str, schema: str, header: bool = True
) -> DataFrame:
    """CSV with the same quarantine contract (malformed rows are kept
    as raw text, not dropped — DROPMALFORMED silently shrinks the
    corpus, the failure mode a dedup/quality pipeline can least
    afford)."""
    full_schema = f"{schema}, {CORRUPT_COL} string"
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", str(header).lower())
        .csv(path)
    )


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean rows without the corrupt column, quarantined raw rows).
    Spark refuses a query whose scan references ONLY the corrupt
    column (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so the parsed frame is
    pinned first — which a two-consumer split wants anyway: one parse
    feeds both outputs instead of re-reading the files per side. The
    pin belongs to the caller's open pin scope, which frees it."""
    df = pin(df)
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_record")
    )
    return clean, bad


def write_orc(df: DataFrame, path: str) -> None:
    """ORC stage write — the second columnar format Spark ships
    natively; same predicate-pushdown/column-pruning story as parquet
    (asserted in tests), so a warehouse standardized on ORC plugs in
    without operator changes."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)

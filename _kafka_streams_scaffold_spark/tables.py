"""Loaders for the driver-provided parquet star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an ``sf_dir``.

Reading is always via ``spark.read.parquet`` so Catalyst gets a real
datasource relation: filter pushdown, column pruning and partition
pruning all apply (verify with ``plans.assert_pushed_filters``).

The schema comes from the table's parquet footer, read once on the
driver with pyarrow and handed to ``spark.read.schema(...)``: Spark's
own inference launches a one-task job per table just to read that same
footer. The footer schema must equal what ``spark.read.parquet`` infers
in the session, so wherever that is not certain (a path ``os.stat``
cannot see, such as an object store; a partitioned directory; a column
type the mapping does not cover) Spark infers it as before.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor: their
# cardinality is fixed (region=5, nation=25) or grows slowly; Spark's
# autoBroadcastJoinThreshold handles the rest at runtime via AQE.
ALWAYS_BROADCAST = ("region", "nation")

# The embeddings data contract: every vector is exactly this wide. The
# ANN tier (dot products, PQ subspace split, int8/binary quantizers)
# compiles this dimension into codegen'd expressions, so ONE malformed
# vector in a 100 TB corpus would otherwise kill the whole job with an
# ANSI element_at error. Enforced at load: wrong-length and NULL
# vectors are quarantined (dropped) right at the scan — the
# R1 poison-pill policy applied to the vector tier. The filter is
# map-local and codegen'd; on healthy data it is a no-op.
EMBED_DIM = 64


# Memoized loader plans (round-11 optimization). Building the SAME
# table relation repeatedly is pure driver-side overhead — file
# listing, the footer read, relation analysis: a median 6 ms per
# load at sf0.01 on 4 cores with a warm JVM, against 38 ms while
# Spark's schema inference ran one job per load. A 409-query bench
# session issues thousands of `table()` calls (every query function
# loads its inputs inside its timed slot). The memo caches the LAZY
# DataFrame (an unresolved plan, no data): every query still
# computes from the parquet inputs; only the plan construction is
# shared, keyed per live session + sf_dir + table + the parquet
# path's ``os.stat`` (mtime_ns, size), so distinct sessions or data
# dirs never collide and a table rewritten in place gets a fresh plan
# on its next load. Tests that monkeypatch ``tables.table`` replace
# the whole function and never hit the memo.
#
# The memoized frame is also the input identity of every
# ``pinning.shared_pin`` key: it changes exactly when the file does,
# so a pin built before a rewrite is never served after it. Sessions
# and frames hash by identity, and nothing here is ever collected
# under a live key: each memoized frame holds its session, and a
# scope's shared pins hold the frames they are keyed on.
_TABLE_MEMO: dict[tuple, DataFrame] = {}

# The footer key under which Spark's parquet writer stores the Spark
# schema; Spark's inference reads it in preference to the parquet types.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None  # not a local file: Spark reads (or rejects) it
    return st.st_mtime_ns, st.st_size


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    key = (spark, sf_dir, name, _stat_key(os.path.join(sf_dir, f"{name}.parquet")))
    df = _TABLE_MEMO.get(key)
    if df is None:
        # setdefault: threads that miss together (curation builds plans
        # from a thread pool) all get the one frame stored first, so
        # their shared-pin keys agree
        df = _TABLE_MEMO.setdefault(key, _load_table(spark, sf_dir, name))
    return df


def _load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = _footer(path)
    nanos = name == "events" and _ts_is_nanos(footer)
    schema = _footer_schema(spark, footer, nanos_as_long=nanos)
    reader = spark.read if schema is None else spark.read.schema(schema)
    if nanos:
        # Some driver generations write events.ts as parquet
        # TIMESTAMP(NANOS), which Spark's vectorized reader rejects;
        # read it as raw nanos and rebuild a micro-precision timestamp
        # (integer `div` — the values are micro-grained, so the
        # truncation is lossless; float division would corrupt >2^53
        # nanos). Other generations (current testdata) write plain
        # micros, which read natively. The footer schema already says
        # `long`; the legacy flag is for Spark's inference when the
        # footer gives no schema. It is consulted at read() time (the
        # relation captures the schema then), so it is saved/restored
        # around the call instead of leaking into session state for
        # every later parquet read.
        flag = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(flag, "false")
        spark.conf.set(flag, "true")
        try:
            df = reader.parquet(path)
        finally:
            spark.conf.set(flag, prev)
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    df = quarantine(name, reader.parquet(path))
    if name == "events":
        # Micros-generation files read as TIMESTAMP_NTZ; normalize to
        # session-local TIMESTAMP (session tz is pinned UTC, so the
        # cast is a lossless relabel) so every downstream operator —
        # unix_micros(), window(), watermarks — sees one ts type
        # regardless of which driver generation wrote the file.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def quarantine(name: str, df: DataFrame) -> DataFrame:
    """Data-contract enforcement applied to every load of ``name``
    (and by tools that substitute synthetic frames for it): rows that
    would crash compiled expressions downstream are dropped, never
    allowed to kill the job (the R1 poison-pill policy). Currently
    one rule: embeddings vectors must be exactly EMBED_DIM wide
    (NULL and wrong-length vectors are quarantined)."""
    if name == "embeddings":
        return df.filter(F.size("embedding") == EMBED_DIM)
    return df


def _footer(path: str) -> pq.FileMetaData | None:
    """The one parquet footer Spark's schema inference reads for
    ``path``: the file itself, or a directory's first data file in
    sorted order (Spark sorts the listing by path and, with no summary
    file and no schema merging, reads the first part file). None
    where that rule may not hold: a path ``os.stat`` cannot see (an
    object store), a directory holding subdirectories (partition
    columns), summary files or no data file, or an unreadable footer
    (Spark's own read then reports what is wrong)."""
    if _stat_key(path) is None:
        return None
    if os.path.isdir(path):
        with os.scandir(path) as entries:
            # Spark's listing hides names starting "." or "_" (but not
            # "_key=value" partitions) and files still being copied,
            # except summary files
            listed = [
                e for e in entries
                if e.name.startswith(("_metadata", "_common_metadata"))
                or not (
                    (e.name.startswith("_") and "=" not in e.name)
                    or e.name.startswith(".")
                    or e.name.endswith("._COPYING_")
                )
            ]
        if not listed or any(e.is_dir() or e.name.startswith("_") for e in listed):
            return None
        path = min(e.path for e in listed)
    try:
        return pq.read_metadata(path)
    except (OSError, pa.ArrowException):
        return None


def _leaves(footer: pq.FileMetaData):
    """Each leaf column of ``footer`` with its logical type as a dict
    (``{"Type": "Timestamp", "timeUnit": "nanoseconds", ...}``)."""
    for i in range(footer.num_columns):
        col = footer.schema.column(i)
        yield col, json.loads(col.logical_type.to_json())


def _is_nanos(kind: dict) -> bool:
    return kind["Type"] == "Timestamp" and kind["timeUnit"] == "nanoseconds"


def _ts_is_nanos(footer: pq.FileMetaData | str | None) -> bool:
    """Whether the footer (or the one read for a path) stores a
    top-level ``ts`` as TIMESTAMP(NANOS)."""
    if isinstance(footer, str):
        footer = _footer(footer)
    return footer is not None and any(
        col.path == "ts" and _is_nanos(kind) for col, kind in _leaves(footer)
    )


# Parquet leaf annotations for which Spark's parquet schema converter
# and ``from_arrow_type`` of pyarrow's reading agree (signed ``Int``
# only; a plain BYTE_ARRAY is binary unless the session reads binary
# as string). INT96, unsigned ints, nanos, TIME, ENUM, JSON, UUID,
# FLOAT16 and the rest are left to Spark's inference.
_MAPPED_LEAVES = frozenset({"None", "String", "Decimal", "Date", "Timestamp", "Int"})


def _footer_schema(
    spark: SparkSession, footer: pq.FileMetaData | None, nanos_as_long: bool
) -> StructType | None:
    """The schema Spark's parquet inference reads from ``footer`` in
    this session, ``spark.sql.legacy.parquet.nanosAsLong`` on when
    ``nanos_as_long`` (the relation then makes every field nullable,
    as it does an inferred schema), or None where this mapping cannot
    promise exactly that: then Spark infers it (one job).
    Spark-written files carry Spark's own schema in the footer, which
    is what its inference uses too; other files go through Arrow's
    reading of the footer, checked against what Spark's converter
    does."""
    if footer is None or _conf_on(spark, "spark.sql.parquet.mergeSchema"):
        return None
    spark_json = (footer.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        return StructType.fromJson(json.loads(spark_json))
    arrow = footer.schema.to_arrow_schema()
    for col, kind in _leaves(footer):
        if nanos_as_long and _is_nanos(kind) and col.path == col.name:
            i = arrow.get_field_index(col.name)
            arrow = arrow.set(i, arrow.field(i).with_type(pa.int64()))
        elif (
            col.physical_type == "INT96"
            or kind["Type"] not in _MAPPED_LEAVES
            or _is_nanos(kind)
            or not kind.get("isSigned", True)
            or (
                kind["Type"] == "None"
                and col.physical_type == "BYTE_ARRAY"
                and _conf_on(spark, "spark.sql.parquet.binaryAsString")
            )
        ):
            return None
    if not all(_arrow_mapped(f.type) for f in arrow):
        return None
    ntz = _conf_on(spark, "spark.sql.parquet.inferTimestampNTZ.enabled")
    return from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)


def _conf_on(spark: SparkSession, key: str) -> bool:
    # Spark reads boolean confs case-insensitively
    return spark.conf.get(key).strip().lower() == "true"


_ARROW_CONTAINERS = (
    pa.types.is_list, pa.types.is_large_list, pa.types.is_fixed_size_list,
    pa.types.is_map, pa.types.is_struct,
)
_ARROW_LEAVES = (
    pa.types.is_boolean, pa.types.is_signed_integer, pa.types.is_float32,
    pa.types.is_float64, pa.types.is_decimal128, pa.types.is_string,
    pa.types.is_large_string, pa.types.is_binary, pa.types.is_large_binary,
    pa.types.is_fixed_size_binary, pa.types.is_date32, pa.types.is_timestamp,
)


def _arrow_mapped(t: pa.DataType) -> bool:
    """Whether ``from_arrow_type(t)`` is Spark's type for the column.
    Arrow restores the writer's Arrow types from the footer's stored
    Arrow schema, so a parquet INT64 can come back as a duration (Spark
    reads a long); such columns go to Spark's inference."""
    if pa.types.is_dictionary(t):
        t = t.value_type
    if any(is_(t) for is_ in _ARROW_CONTAINERS):
        return all(_arrow_mapped(t.field(i).type) for i in range(t.num_fields))
    return any(is_(t) for is_ in _ARROW_LEAVES)


def spread(df: DataFrame, key: str | None = None) -> DataFrame:
    """Fan a narrow scan out to every core before compute-heavy work.

    The driver's testdata is one single-row-group parquet file per
    table, so the scan yields ONE task no matter what
    ``maxPartitionBytes`` says — and every downstream tokenize/hash/
    explode pipeline would run single-core (measured 4x wall-clock on
    tokenization at sf0.1). Conditional on the actual scan layout: on a
    cluster-scale table the scan already has >= defaultParallelism
    input files and this is a no-op, so the shuffle it introduces
    exists precisely when the data is small enough for it to be cheap.

    The layout probe is ``inputFiles()`` (file count ~ split floor for
    single-row-group files), NOT ``df.rdd.getNumPartitions()``: the
    RDD conversion materializes a second physical plan per call and
    throws on streaming DataFrames. Streaming frames pass through
    untouched — their parallelism comes from the source.
    """
    if df.isStreaming:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # derived frames with no file provenance
        n_files = 0
    if n_files >= n:
        return df
    return df.repartition(n, F.col(key)) if key else df.repartition(n)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}

"""Loaders for the driver-provided parquet star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an ``sf_dir``.

Reading is always via ``spark.read.parquet`` so Catalyst gets a real
datasource relation: filter pushdown, column pruning and partition
pruning all apply (verify with ``plans.assert_pushed_filters``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
# listing, a parquet footer schema read, relation analysis — measured
# at ~180 ms per `table()` call on this host. A 409-query bench
# session issues thousands of such calls (every query function loads
# its inputs inside its timed slot), so the registry-wide cost was
# tens of seconds of redundant driver work per run. The memo caches
# the LAZY DataFrame (an unresolved plan, no data): every query still
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
    if name == "events" and _ts_is_nanos(os.path.join(sf_dir, "events.parquet")):
        # Some driver generations write events.ts as parquet
        # TIMESTAMP(NANOS), which Spark's vectorized reader rejects;
        # read it as raw nanos and rebuild a micro-precision timestamp
        # (integer `div` — the values are micro-grained, so the
        # truncation is lossless; float division would corrupt >2^53
        # nanos). Other generations (current testdata) write plain
        # micros, which read natively — hence the footer probe above.
        # The legacy flag is consulted at read() time (the relation
        # captures the schema then), so it is saved/restored around the
        # call instead of leaking into session state for every later
        # parquet read.
        flag = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(flag, "false")
        spark.conf.set(flag, "true")
        try:
            df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        finally:
            spark.conf.set(flag, prev)
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    df = quarantine(name, spark.read.parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    ))
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


def _ts_is_nanos(path: str) -> bool:
    """Probe the parquet footer (driver-side, no Spark job) for a
    nanosecond ``ts`` column. Directory datasets probe one footer —
    a dataset is written with one schema.

    Failures are caught NARROWLY and warned about: a silent ``except
    Exception: return False`` would route a nanos file to the plain
    read path, where Spark's vectorized reader then fails with an
    opaque TIMESTAMP(NANOS) error — the exact failure this probe
    exists to prevent. A missing ``ts`` field is the one genuinely
    benign case (schema simply has no ts column) and returns False
    without noise."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError as e:
        _warn_probe(path, f"pyarrow unavailable ({e})")
        return False
    try:
        if os.path.isdir(path):
            inner = [f for f in os.listdir(path) if f.endswith(".parquet")]
            if not inner:
                return False
            path = os.path.join(path, inner[0])
        schema = pq.read_schema(path)
        if "ts" not in schema.names:
            return False
        return getattr(schema.field("ts").type, "unit", None) == "ns"
    except (OSError, pa.lib.ArrowException) as e:
        _warn_probe(path, f"unreadable footer ({type(e).__name__}: {e})")
        return False


def _warn_probe(path: str, why: str) -> None:
    import warnings

    warnings.warn(
        f"nanos-timestamp footer probe failed for {path}: {why}; "
        "falling back to the plain parquet read path — if this file "
        "was written with TIMESTAMP(NANOS) the read will fail there",
        RuntimeWarning,
        stacklevel=3,
    )


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

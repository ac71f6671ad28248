"""Table schemas come from the parquet footer, read on the driver:
loading a table launches no Spark job, and the schema equals what
``spark.read.parquet`` infers in the same session (names, types,
nullability and field metadata), or the load falls back to that
inference. It never returns a different type."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from _kafka_streams_scaffold_spark import tables
from conftest import SF_DIR

TESTDATA = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*", "*.parquet")))


def _inferred_load(monkeypatch, spark, sf_dir, name):
    """``_load_table`` with no footer schema: Spark infers it."""
    with monkeypatch.context() as m:
        m.setattr(tables, "_footer", lambda path: None)
        return tables._load_table(spark, sf_dir, name)


def _assert_as_inferred(monkeypatch, spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = tables._footer_schema(spark, tables._footer(path), nanos_as_long=False)
    # the relation makes every field nullable, given or inferred
    assert spark.read.schema(footer).parquet(path).schema == spark.read.parquet(path).schema
    got = tables._load_table(spark, sf_dir, name).schema
    assert got == _inferred_load(monkeypatch, spark, sf_dir, name).schema
    return footer


@pytest.mark.parametrize("path", TESTDATA, ids=lambda p: os.path.relpath(p, os.path.dirname(SF_DIR)))
def test_testdata_footer_schema_is_sparks(spark, monkeypatch, path):
    sf_dir, base = os.path.split(path)
    name = base.removesuffix(".parquet")
    assert _assert_as_inferred(monkeypatch, spark, sf_dir, name) is not None


def test_spark_written_directory_uses_the_first_part_file(spark, sf_dir, tmp_path, monkeypatch):
    path = str(tmp_path / "lineitem.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lineitem.withColumn("k", F.lit(1)).repartition(3).write.parquet(path)  # k: not null
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    assert len(parts) == 3
    assert tables._footer(path).metadata[tables._SPARK_SCHEMA_KEY]
    assert _assert_as_inferred(monkeypatch, spark, str(tmp_path), "lineitem") is not None


@pytest.mark.parametrize(
    "column",
    [
        pa.array([0, 1_700_000_000_000_000], pa.timestamp("us", tz="UTC")),
        pa.array([[1.0, 2.5], None, [None]], pa.list_(pa.float32())),
        pa.array(["1.25", "-3.50"], pa.string()).cast(pa.decimal128(12, 2)),
    ],
    ids=["timestamp_utc", "list_float", "decimal"],
)
def test_arrow_written_columns_keep_sparks_type(spark, tmp_path, monkeypatch, column):
    ids = pa.field("id", pa.int64(), nullable=False)
    table = pa.table([pa.array(range(len(column))), column], schema=pa.schema([ids, ("c", column.type)]))
    pq.write_table(table, tmp_path / "documents.parquet")
    assert _assert_as_inferred(monkeypatch, spark, str(tmp_path), "documents") is not None


@pytest.mark.parametrize(
    "column, write, spark_type",
    [
        # Arrow restores a duration from its stored schema; Spark reads an INT64
        (pa.array([1, 2], pa.duration("us")), {}, "bigint"),
        (pa.array([1, 2], pa.uint8()), {}, "smallint"),
        # Arrow reads INT96 as timestamp[ns]; Spark infers timestamp, not _ntz
        (
            pa.array([0, 1_700_000_000_000_000], pa.timestamp("us")),
            {"use_deprecated_int96_timestamps": True},
            "timestamp",
        ),
    ],
    ids=["duration", "uint8", "int96"],
)
def test_types_the_mapping_does_not_cover_are_inferred(spark, tmp_path, column, write, spark_type):
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"c": column}), path, **write)
    assert tables._footer_schema(spark, tables._footer(path), nanos_as_long=False) is None
    df = tables._load_table(spark, str(tmp_path), "documents")
    assert df.schema["c"].dataType.simpleString() == spark_type
    assert df.schema == spark.read.parquet(path).schema


def test_load_all_launches_no_spark_job(spark, sf_dir):
    fresh = spark.newSession()
    sc = spark.sparkContext
    group = "test-load-all-jobs"
    sc.setJobGroup(group, "tables.load_all on a fresh session")
    try:
        frames = tables.load_all(fresh, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(frames) == len(tables.TABLE_NAMES)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert not jobs, f"{len(jobs)} Spark jobs while loading the tables"

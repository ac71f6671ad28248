"""Small-file compaction: layout changes, data does not."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from _kafka_streams_scaffold_spark.sources import compaction
from _kafka_streams_scaffold_spark.streaming.serving import ParquetChangelogStore


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    # simulate a streaming sink's droppings: 40 tiny files
    for i in range(10):
        spark.range(i * 100, (i + 1) * 100).withColumn(
            "v", F.col("id") * 2
        ).repartition(4).write.mode("append").parquet(path)
    before = compaction.table_file_stats(spark, path)
    assert before["n_files"] >= 40
    rows_before = sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(path).collect()
    )

    out = compaction.compact_table(spark, path, target_bytes=1 << 30)
    assert out["after"]["n_files"] == 1  # tiny table -> one file
    rows_after = sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(path).collect()
    )
    assert rows_after == rows_before
    assert out["after"]["total_bytes"] < before["total_bytes"], (
        "fewer files also means less footer/overhead bytes"
    )


def test_compaction_respects_target_size(spark, tmp_path):
    path = str(tmp_path / "t2")
    spark.range(200_000).withColumn("v", F.rand(7)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    total = compaction.table_file_stats(spark, path)["total_bytes"]
    target = total // 4 + 1
    out = compaction.compact_table(spark, path, target_bytes=target)
    # ceil(total/target) ~ 4 output files (parquet size variance ±1)
    assert 3 <= out["after"]["n_files"] <= 5
    assert spark.read.parquet(path).count() == 200_000


def _staging_elsewhere(kind: str, tmp_path) -> str:
    if kind == "missing":
        return str(tmp_path / "no-such-dir")
    shm = "/dev/shm"
    if not os.path.isdir(shm) or os.stat(shm).st_dev == os.stat(tmp_path).st_dev:
        pytest.skip("no tmpfs on another device than the test's store")
    return tempfile.mkdtemp(dir=shm)


@pytest.mark.parametrize("kind", ["missing", "other_fs"])
def test_compaction_keeps_the_store_when_tempdir_is_elsewhere(
    spark, tmp_path, monkeypatch, kind
):
    """Both compactions stage beside their store. Staged in the process
    temp dir on another filesystem, the rename after deleting the store
    failed with EXDEV and the store was gone."""
    table = str(tmp_path / "t")
    spark.range(100).repartition(4).write.parquet(table)
    store = ParquetChangelogStore(str(tmp_path / "wc"), ["word"])
    for b in range(3):
        store.upsert_batch(
            spark.createDataFrame([Row(word="fox", cnt=b), Row(word="dog", cnt=9)]),
            batch_id=b,
        )
    elsewhere = _staging_elsewhere(kind, tmp_path)
    monkeypatch.setattr(tempfile, "tempdir", elsewhere)
    try:
        compaction.compact_table(spark, table)
        assert store.compact(spark) == 2
    finally:
        monkeypatch.undo()
        if kind == "other_fs":
            shutil.rmtree(elsewhere)
    assert sorted(r.id for r in spark.read.parquet(table).collect()) == list(
        range(100)
    )
    assert {r.word: r.cnt for r in store.read(spark).collect()} == {
        "fox": 2, "dog": 9
    }
    assert sorted(os.listdir(tmp_path)) == ["t", "wc"]

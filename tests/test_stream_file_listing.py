"""A file-sourced micro-batch runs exactly one Spark job.

Spark's file stream source hands each micro-batch's new files to the
file index as root paths; past
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32 by
default) the index lists them with a Spark job of one task per file.
``session.build_session`` keeps that listing on the driver, so a
micro-batch over 40 FileTopic files runs only its own aggregation job.
These tests count jobs per query run (``statusTracker`` by job group,
which Structured Streaming sets to the run id): counts, not timings.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from _kafka_streams_scaffold_spark.operators import purchases
from _kafka_streams_scaffold_spark.sources import filetopic
from _kafka_streams_scaffold_spark.streaming import pipeline, serving

ROWS_PER_FILE = 5
PARTITIONS = 3


def _land_files(topic_dir: str, first: int, n_files: int) -> None:
    """Write ``n_files`` Kafka-shaped parquet files, one whole file at a
    time, numbered from ``first``."""
    os.makedirs(topic_dir, exist_ok=True)
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for f in range(first, first + n_files):
        ids = range(f * ROWS_PER_FILE, (f + 1) * ROWS_PER_FILE)
        cust = [f"{i % 7:05d}" for i in ids]
        values = [
            json.dumps({"user_id": c, "event_type": f"{i % 3:05d}", "value": i / 4})
            for i, c in zip(ids, cust)
        ]
        tbl = pa.table({
            "key": pa.array([c.encode() for c in cust], pa.binary()),
            "value": pa.array([v.encode() for v in values], pa.binary()),
            "topic": pa.array(["purchases"] * ROWS_PER_FILE),
            "partition": pa.array([int(c) % PARTITIONS for c in cust], pa.int32()),
            "offset": pa.array(list(ids), pa.int64()),
            "timestamp": pa.array([ts] * ROWS_PER_FILE, pa.timestamp("us", tz="UTC")),
        })
        name = f"part-{f:05d}.parquet"
        tmp = os.path.join(os.path.dirname(topic_dir), name)
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(topic_dir, name))


def _events(decoded):
    return decoded.select(
        F.get_json_object("value", "$.user_id").alias("user_id"),
        F.get_json_object("value", "$.event_type").alias("event_type"),
        F.get_json_object("value", "$.value").cast("double").alias("value"),
    )


def _run_purchases(spark, topic_dir: str, store, ckpt: str):
    stream = filetopic.consume_decoded(filetopic.read_topic_stream(spark, topic_dir))
    q = pipeline.run_update_into_store(
        pipeline.streaming_purchases(_events(stream)), store, ckpt
    )
    q.awaitTermination(120)
    assert q.exception() is None
    return q


def _jobs(spark, q) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))


def _assert_store_matches_batch(spark, topic_dir: str, store) -> None:
    batch = purchases.aggregate_count_and_total(
        purchases.select_compound_key(
            _events(filetopic.consume_decoded(filetopic.read_topic_batch(spark, topic_dir)))
        )
    )
    want = {r["key"]: (r["cnt"], r["total"]) for r in batch.collect()}
    got = {k[0]: (v["cnt"], v["total"]) for k, v in store.snapshot().items()}
    assert got == want


def test_forty_file_micro_batch_runs_one_job(spark, tmp_path):
    topic_dir = str(tmp_path / "topic")
    _land_files(topic_dir, 0, 40)  # more files than Spark's default threshold of 32
    store = serving.MemoryStore(["key"])
    q = _run_purchases(spark, topic_dir, store, str(tmp_path / "ckpt"))

    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) == 1
    assert data_batches[0]["numInputRows"] == 40 * ROWS_PER_FILE
    assert len(_jobs(spark, q)) == 1
    _assert_store_matches_batch(spark, topic_dir, store)


def test_restart_with_backlog_runs_one_job_per_micro_batch(spark, tmp_path):
    """The fixed-rate catch-up case: a query restarted from its
    checkpoint behind a 40-file backlog still runs one job per
    micro-batch, and the store converges to the batch aggregate."""
    topic_dir = str(tmp_path / "topic")
    ckpt = str(tmp_path / "ckpt")
    store = serving.MemoryStore(["key"])

    _land_files(topic_dir, 0, 1)
    q1 = _run_purchases(spark, topic_dir, store, ckpt)
    assert sum(p["numInputRows"] for p in q1.recentProgress) == ROWS_PER_FILE

    _land_files(topic_dir, 1, 40)
    q2 = _run_purchases(spark, topic_dir, store, ckpt)
    data_batches = [p for p in q2.recentProgress if p["numInputRows"] > 0]
    assert sum(p["numInputRows"] for p in data_batches) == 40 * ROWS_PER_FILE
    assert len(_jobs(spark, q2)) == len(data_batches)
    _assert_store_matches_batch(spark, topic_dir, store)

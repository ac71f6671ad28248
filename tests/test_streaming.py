"""Streaming-layer tests: converged streaming state must equal the
batch result (the A4 emission contract), poison pills must be skipped
with the stream surviving, audit envelopes must carry offsets, and
the custom stateful accumulator must match the built-in aggregate."""

from __future__ import annotations

import datetime as dt
import json
import os
import time

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from _kafka_streams_scaffold_spark.operators import wordcount
from _kafka_streams_scaffold_spark.sources import kafka as ksrc
from _kafka_streams_scaffold_spark.streaming import audit, pipeline, serving, stateful


def _write_json(dirpath, name, rows):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _file_stream(spark, dirpath, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # force multiple micro-batches
        .json(dirpath)
    )


LINES = T.StructType([T.StructField("text", T.StringType())])


def test_streaming_wordcount_converges_to_batch(spark, tmp_path):
    rows = [{"text": "the quick brown fox"}, {"text": "the lazy dog"}]
    rows2 = [{"text": "the quick fox again"}]
    src = str(tmp_path / "src")
    _write_json(src, "a.json", rows)
    _write_json(src, "b.json", rows2)

    agg = pipeline.streaming_wordcount(_file_stream(spark, src, LINES))
    store = serving.MemoryStore(["word"])
    q = pipeline.run_update_into_store(agg, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    batch = {
        r["word"]: r["cnt"]
        for r in wordcount.wordcount(
            spark.createDataFrame([Row(text=r["text"]) for r in rows + rows2])
        ).collect()
    }
    converged = {k[0]: v["cnt"] for k, v in store.snapshot().items()}
    assert converged == batch
    assert converged["the"] == 3
    # Interactive queries against the store (Q1 point lookup parity)
    assert store.get("fox")["cnt"] == 2


def test_streaming_purchases_with_parquet_changelog(spark, tmp_path):
    evs = [
        {"user_id": 1, "event_type": "a", "value": 2.0},
        {"user_id": 1, "event_type": "a", "value": 3.0},
        {"user_id": 2, "event_type": "b", "value": 5.0},
    ]
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    _write_json(src, "a.json", evs[:2])
    _write_json(src, "b.json", evs[2:])

    agg = pipeline.streaming_purchases(_file_stream(spark, src, schema))
    store = serving.ParquetChangelogStore(str(tmp_path / "store"), ["key"])
    q = pipeline.run_update_into_store(agg, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    served = {
        r["key"]: (r["cnt"], r["total"]) for r in store.read(spark).collect()
    }
    assert served == {"1-a": (2, 5.0), "2-b": (1, 5.0)}
    # Range scan over the served table (Q2 parity)
    row = store.get(spark, "1-a")
    assert row["cnt"] == 2


def test_streaming_poison_pill_skip_and_continue(spark, tmp_path):
    rows = [{"text": t} for t in ["moo", "quack", "moo moo"]]
    src = str(tmp_path / "src")
    _write_json(src, "a.json", rows)

    out = pipeline.streaming_uppercase(_file_stream(spark, src, LINES))
    sink = str(tmp_path / "out")
    q = pipeline.run_append_to_parquet(
        out.select("value"), sink, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = sorted(r["value"] for r in spark.read.parquet(sink).collect())
    assert got == ["MOO", "MOO MOO"]  # quack dropped, stream survived


def test_audit_listener_emits_offset_envelopes(spark, tmp_path):
    listener = audit.AuditListener("test-app")
    spark.streams.addListener(listener)
    try:
        rows = [{"text": "a b c"}]
        src = str(tmp_path / "src")
        _write_json(src, "a.json", rows)
        agg = pipeline.streaming_wordcount(_file_stream(spark, src, LINES))
        store = serving.MemoryStore(["word"])
        q = pipeline.run_update_into_store(agg, store, str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        deadline = time.time() + 30
        while not listener.envelopes and time.time() < deadline:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert listener.envelopes, "no audit envelopes received"
    env = listener.envelopes[0]
    assert env["client"] == {
        "applicationId": "test-app",
        "type": "spark-structured-streaming",
    }
    assert env["record"]["numInputRows"] >= 1
    assert env["record"]["sources"][0]["endOffset"] is not None


KAFKA_WIRE = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)


def test_streaming_wordcount_through_kafka_codec_path(spark, tmp_path):
    """Everything but the broker transport: a file stream carrying the
    Kafka source's exact wire schema (binary key/value + metadata
    columns) drives decode_kv -> streaming_wordcount -> foreachBatch
    store upsert, and the converged store equals the batch wordcount
    computed through the same codec. encode_kv round-trips the output
    the way the sink would serialize it."""
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    lines = ["the quick brown fox", "the lazy dog", "the quick fox again"]
    records = [
        Row(
            key=b"test",
            value=line.encode(),
            topic="demo-plaintext-input",
            partition=i % 3,
            offset=i,
            timestamp=ts,
        )
        for i, line in enumerate(lines)
    ]
    src = str(tmp_path / "wire")
    # Two files -> two micro-batches under maxFilesPerTrigger=1.
    spark.createDataFrame(records[:2], KAFKA_WIRE).write.parquet(src)
    spark.createDataFrame(records[2:], KAFKA_WIRE).write.mode("append").parquet(src)

    wire_stream = (
        spark.readStream.schema(KAFKA_WIRE)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    decoded = ksrc.decode_kv(wire_stream)
    # Metadata survives decode as ordinary columns (P6/R2 posture).
    assert set(ksrc.METADATA_COLS) <= set(decoded.columns)

    agg = pipeline.streaming_wordcount(decoded, text_col="value")
    store = serving.MemoryStore(["word"])
    q = pipeline.run_update_into_store(agg, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    batch_decoded = ksrc.decode_kv(spark.read.parquet(src))
    batch = {
        r["word"]: r["cnt"]
        for r in wordcount.wordcount(batch_decoded, text_col="value").collect()
    }
    converged = {k[0]: v["cnt"] for k, v in store.snapshot().items()}
    assert converged == batch
    assert converged["the"] == 3
    # Batch side of the same codec keeps per-record provenance.
    meta = {
        (r["topic"], r["partition"], r["offset"])
        for r in batch_decoded.collect()
    }
    assert meta == {("demo-plaintext-input", i % 3, i) for i in range(3)}

    # Sink-side serde: word/cnt rows -> (key, JSON value), GsonSerde
    # analog. {"fox": 2} on the wire as {"cnt":2} keyed by the word.
    encoded = ksrc.encode_kv(
        spark.createDataFrame(
            [Row(word=w, cnt=c) for w, c in converged.items()]
        ),
        key_col="word",
        value_cols=["cnt"],
    ).collect()
    wire = {r["key"]: json.loads(r["value"]) for r in encoded}
    assert wire["the"] == {"cnt": 3}
    assert set(wire) == set(batch)


def test_audit_replay_reconstructs_last_offsets(spark, tmp_path):
    """R3 replay-on-startup parity (FailProofInterceptor.java:88-110):
    a fresh listener pointed at the audit trail rebuilds the exact
    last-offsets map the terminated listener held."""
    jsonl = str(tmp_path / "audit.jsonl")
    listener = audit.AuditListener("replay-app", jsonl_path=jsonl)
    spark.streams.addListener(listener)
    try:
        src = str(tmp_path / "src")
        _write_json(src, "a.json", [{"text": "a b"}])
        _write_json(src, "b.json", [{"text": "b c"}])
        agg = pipeline.streaming_wordcount(_file_stream(spark, src, LINES))
        store = serving.MemoryStore(["word"])
        q = pipeline.run_update_into_store(agg, store, str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        deadline = time.time() + 30
        while len(listener.envelopes) < 2 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert len(listener.envelopes) >= 2  # maxFilesPerTrigger=1 -> >=2 batches
    assert listener.last_offsets  # live-tracked map

    # "Restart": a new listener replays the JSONL trail at init.
    restarted = audit.AuditListener("replay-app-2", jsonl_path=jsonl)
    assert restarted.last_offsets == listener.last_offsets
    # The replayed end offset is the FINAL batch's, not an earlier one.
    (final_env,) = listener.envelopes[-1:]
    for s in final_env["record"]["sources"]:
        key = ("replay-app", s["description"])
        assert restarted.last_offsets[key]["endOffset"] == s["endOffset"]
        assert (
            restarted.last_offsets[key]["batchId"]
            == final_env["record"]["batchId"]
        )


def test_per_record_audit_envelopes(spark, tmp_path):
    """R4 strict parity (AuditConsumerInterceptor.java:27-58): ONE
    envelope per record, carrying that record's transport metadata
    (partition/topic/offset/timestamp) plus processing wall-clock and
    client identity — emitted alongside the payload sink by
    run_append_with_record_audit."""
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    records = [
        Row(
            key=b"k",
            value=f"line {i}".encode(),
            topic="demo-plaintext-input",
            partition=i % 3,
            offset=i,
            timestamp=ts + dt.timedelta(seconds=i),
        )
        for i in range(5)
    ]
    src = str(tmp_path / "wire")
    spark.createDataFrame(records, KAFKA_WIRE).write.parquet(src)

    wire_stream = spark.readStream.schema(KAFKA_WIRE).parquet(src)
    decoded = ksrc.decode_kv(wire_stream)
    q = pipeline.run_append_with_record_audit(
        decoded,
        path=str(tmp_path / "out"),
        audit_path=str(tmp_path / "audit"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        application_id="audited-app",
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out"))
    envs = spark.read.parquet(str(tmp_path / "audit"))
    # one envelope PER RECORD (the batch listener emits per-batch)
    assert out.count() == 5
    assert envs.count() == 5
    # idempotence surface: output is partitioned by the deterministic
    # batch id, so a replayed batch overwrites its own partition
    assert "batch_id" in envs.columns
    rows = envs.collect()
    for r in rows:
        assert r["client"]["applicationId"] == "audited-app"
        assert r["client"]["type"] == audit.AUDIT_CLIENT_TYPE
        assert r["record"]["topic"] == "demo-plaintext-input"
        assert r["timestamp"] > 0  # wall-clock millis
    # envelope metadata is the record's own, not batch-level
    assert {(r["record"]["partition"], r["record"]["offset"]) for r in rows} \
        == {(i % 3, i) for i in range(5)}
    assert {r["record"]["timestamp"] for r in rows} \
        == {ts + dt.timedelta(seconds=i) for i in range(5)}

    # the JSON wire form a Kafka audit-topic producer would emit
    batch_decoded = ksrc.decode_kv(spark.read.parquet(src))
    wire = audit.audit_records_json(batch_decoded, "audited-app").collect()
    env = json.loads(wire[0]["value"])
    assert set(env) == {"timestamp", "client", "record"}
    assert set(env["record"]) == {"partition", "topic", "offset", "timestamp"}


def test_stateful_count_and_total_matches_builtin(spark, tmp_path):
    evs = [
        {"key": "k1", "value": 2.0},
        {"key": "k1", "value": 3.0},
        {"key": "k2", "value": 7.0},
    ]
    schema = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("value", T.DoubleType())]
    )
    src = str(tmp_path / "src")
    _write_json(src, "a.json", evs[:1])
    _write_json(src, "b.json", evs[1:])

    agg = stateful.stateful_count_and_total(_file_stream(spark, src, schema))
    store = serving.MemoryStore(["key"])
    q = pipeline.run_update_into_store(agg, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {k[0]: (v["cnt"], v["total"]) for k, v in store.snapshot().items()}
    assert got == {"k1": (2, 5.0), "k2": (1, 7.0)}


def test_windowed_counts_streaming(spark, tmp_path):
    evs = [
        {"ts": "2024-01-01T00:10:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01T00:20:00", "event_type": "click", "value": 2.0},
        {"ts": "2024-01-01T01:10:00", "event_type": "click", "value": 4.0},
    ]
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    _write_json(src, "a.json", evs)
    agg = pipeline.windowed_event_counts(_file_stream(spark, src, schema))
    store = serving.MemoryStore(["window_start", "event_type"])
    q = pipeline.run_update_into_store(agg, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {
        (str(k[0]), k[1]): (v["cnt"], v["total_value"])
        for k, v in store.snapshot().items()
    }
    assert got == {
        ("2024-01-01 00:00:00", "click"): (2, 3.0),
        ("2024-01-01 01:00:00", "click"): (1, 4.0),
    }


def test_kafka_config_builders():
    src = ksrc.KafkaSourceConfig("broker:9092", "words", starting_offsets="earliest")
    assert src.options() == {
        "kafka.bootstrap.servers": "broker:9092",
        "subscribe": "words",
        "startingOffsets": "earliest",
        "failOnDataLoss": "true",
    }
    sink = ksrc.KafkaSinkConfig("broker:9092", "counts", "/tmp/ckpt")
    assert sink.options()["topic"] == "counts"
    assert sink.options()["checkpointLocation"] == "/tmp/ckpt"


def test_kafka_encode_decode_roundtrip(spark):
    df = spark.createDataFrame([Row(word="fox", cnt=2)])
    encoded = ksrc.encode_kv(df, "word", ["word", "cnt"])
    row = encoded.collect()[0]
    assert row["key"] == "fox"
    assert json.loads(row["value"]) == {"word": "fox", "cnt": 2}
    # decode path over a frame shaped like the Kafka source output
    kafka_shaped = spark.createDataFrame(
        [(bytearray(b"fox"), bytearray(b'{"cnt": 2}'), "t", 0, 0, None)],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    decoded = ksrc.decode_kv(kafka_shaped).collect()[0]
    assert decoded["key"] == "fox" and json.loads(decoded["value"]) == {"cnt": 2}


EV_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def test_streaming_dedup_first_wins_across_batches(spark, tmp_path):
    rows1 = [
        {"ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "a", "value": 1.0},
        {"ts": "2024-01-01T00:01:00", "user_id": 1, "event_type": "a", "value": 2.0},
    ]
    rows2 = [  # duplicate key (user_id, event_type) in a later batch
        {"ts": "2024-01-01T00:02:00", "user_id": 1, "event_type": "a", "value": 3.0},
        {"ts": "2024-01-01T00:03:00", "user_id": 2, "event_type": "b", "value": 4.0},
    ]
    src = str(tmp_path / "src")
    _write_json(src, "a.json", rows1)
    _write_json(src, "b.json", rows2)
    dd = pipeline.streaming_dedup(
        _file_stream(spark, src, EV_SCHEMA), ["user_id", "event_type"]
    )
    sink = str(tmp_path / "out")
    q = pipeline.run_append_to_parquet(dd, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["event_type"], r["value"])
        for r in spark.read.parquet(sink).collect()
    )
    # exactly one row per key, the first-seen one
    assert got == [(1, "a", 1.0), (2, "b", 4.0)]


def test_stream_static_enrichment(spark, tmp_path):
    rows = [{"ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "click",
             "value": 1.0}]
    src = str(tmp_path / "src")
    _write_json(src, "a.json", rows)
    dim = spark.createDataFrame([Row(user_id=1, segment="gold")])
    out = pipeline.enrich_with_dimension(
        _file_stream(spark, src, EV_SCHEMA), dim, "user_id"
    )
    sink = str(tmp_path / "out")
    q = pipeline.run_append_to_parquet(out, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = spark.read.parquet(sink).collect()
    assert len(got) == 1 and got[0]["segment"] == "gold"


def test_stream_stream_join_within_horizon(spark, tmp_path):
    clicks = [
        {"ts": "2024-01-01T01:00:00", "user_id": 1, "event_type": "click", "value": 0.0},
        {"ts": "2024-01-01T05:00:00", "user_id": 2, "event_type": "click", "value": 0.0},
    ]
    purchases = [
        {"ts": "2024-01-01T00:30:00", "user_id": 1, "event_type": "purchase", "value": 9.0},
        # > 1h before the user-2 click -> must NOT join
        {"ts": "2024-01-01T03:00:00", "user_id": 2, "event_type": "purchase", "value": 7.0},
    ]
    csrc, psrc = str(tmp_path / "clicks"), str(tmp_path / "purch")
    _write_json(csrc, "a.json", clicks)
    _write_json(psrc, "a.json", purchases)
    joined = pipeline.clicks_with_recent_purchase(
        _file_stream(spark, csrc, EV_SCHEMA), _file_stream(spark, psrc, EV_SCHEMA)
    )
    sink = str(tmp_path / "out")
    q = pipeline.run_append_to_parquet(joined, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = [(r["user_id"], r["purchase_value"]) for r in spark.read.parquet(sink).collect()]
    assert got == [(1, 9.0)]


def test_watermark_drops_late_event(spark, tmp_path):
    # Batch 0 sees 04:00, so the watermark advances to 02:00 — but with
    # Spark's one-batch lag it takes effect from batch 1 onward. The
    # late 00:10 event arrives in batch 2, lands in window
    # [00:00, 01:00) (strictly older than the watermark) and is dropped.
    rows1 = [{"ts": "2024-01-01T04:00:00", "event_type": "click", "value": 1.0}]
    rows_mid = [{"ts": "2024-01-01T04:30:00", "event_type": "click", "value": 2.0}]
    rows2 = [{"ts": "2024-01-01T00:10:00", "event_type": "click", "value": 99.0}]
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    _write_json(src, "a.json", rows1)
    _write_json(src, "b.json", rows_mid)
    _write_json(src, "c.json", rows2)
    # The file source orders batches by modification time; make the
    # ordering deterministic so the late file really is the last batch.
    now = time.time()
    os.utime(os.path.join(src, "a.json"), (now - 20, now - 20))
    os.utime(os.path.join(src, "b.json"), (now - 10, now - 10))
    os.utime(os.path.join(src, "c.json"), (now, now))
    agg = pipeline.windowed_event_counts(_file_stream(spark, src, schema))
    sink = str(tmp_path / "out")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    windows = {str(r["window_start"]) for r in spark.read.parquet(sink).collect()}
    assert "2024-01-01 00:00:00" not in windows  # late event's window absent


def test_checkpoint_recovery_continues_counts(spark, tmp_path):
    """Stop a streaming aggregation, add input, start a NEW query from
    the same checkpoint: state must resume (counts span both runs,
    first batch not reprocessed)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = serving.MemoryStore(["word"])

    _write_json(src, "a.json", [{"text": "fox fox"}])
    agg = pipeline.streaming_wordcount(_file_stream(spark, src, LINES))
    q1 = pipeline.run_update_into_store(agg, store, ckpt)
    q1.awaitTermination(120)
    assert store.get("fox")["cnt"] == 2

    _write_json(src, "b.json", [{"text": "fox dog"}])
    agg2 = pipeline.streaming_wordcount(_file_stream(spark, src, LINES))
    q2 = pipeline.run_update_into_store(agg2, store, ckpt)
    q2.awaitTermination(120)
    # 2 (run 1) + 1 (run 2) — state restored, a.json not re-read.
    assert store.get("fox")["cnt"] == 3
    assert store.get("dog")["cnt"] == 1


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The 100 TB streaming posture names RocksDB as the state
    backend (SURVEY §4, state-store parity with the reference's
    RocksDB Materialized stores) — prove the provider actually runs a
    stateful aggregation here, not just in docs."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", ""
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "src")
        _write_json(src, "a.json", [{"text": "fox fox dog"}])
        store = serving.MemoryStore(["word"])
        q = pipeline.run_update_into_store(
            pipeline.streaming_wordcount(_file_stream(spark, src, LINES)),
            store,
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        assert store.get("fox")["cnt"] == 2
        assert store.get("dog")["cnt"] == 1
    finally:
        if prev:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_batch_replay_maps_latest_to_earliest():
    """A bounded replay with the streaming default ("latest") would
    read latest..latest = nothing; read_batch must widen it."""
    cfg = ksrc.KafkaSourceConfig("b:9092", "t")  # default latest
    opts = cfg.options()
    opts.pop("failOnDataLoss", None)
    if opts.get("startingOffsets") == "latest":
        opts["startingOffsets"] = "earliest"
    opts["endingOffsets"] = "latest"
    assert opts["startingOffsets"] == "earliest"
    explicit = ksrc.KafkaSourceConfig(
        "b:9092", "t", starting_offsets='{"t":{"0":42}}'
    ).options()
    assert explicit["startingOffsets"] == '{"t":{"0":42}}'


KEYED_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def test_streaming_ktable_latest_converges_to_batch(spark, tmp_path, monkeypatch):
    from _kafka_streams_scaffold_spark.operators import changelog

    rows1 = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1,
         "event_type": "signup", "value": 1.0},
        # same-ts pair: event_id (offset analog) must break the tie
        {"event_id": 2, "ts": "2024-01-01T00:05:00", "user_id": 2,
         "event_type": "view", "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01T00:05:00", "user_id": 2,
         "event_type": "purchase", "value": 3.0},
    ]
    rows2 = [  # later batch overwrites user 1
        {"event_id": 4, "ts": "2024-01-02T00:00:00", "user_id": 1,
         "event_type": "click", "value": 9.0},
    ]
    src = str(tmp_path / "src")
    _write_json(src, "a.json", rows1)
    _write_json(src, "b.json", rows2)

    agg = pipeline.streaming_latest(_file_stream(spark, src, KEYED_SCHEMA))
    store = serving.MemoryStore(["user_id"])
    q = pipeline.run_update_into_store(agg, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    batch_in = spark.createDataFrame(
        [Row(**{**r, "ts": dt.datetime.fromisoformat(r["ts"])})
         for r in rows1 + rows2]
    )
    monkeypatch.setattr(changelog.tables, "table", lambda *a: batch_in)
    batch = {
        r["user_id"]: (r["last_type"], r["last_value"])
        for r in changelog.ktable_latest_query(spark, "unused").collect()
    }
    converged = {
        k[0]: (v["last_type"], v["last_value"])
        for k, v in store.snapshot().items()
    }
    assert converged == batch == {1: ("click", 9.0), 2: ("purchase", 3.0)}


def test_streaming_corpus_filter_matches_batch_gate(spark, tmp_path):
    """The streaming curation gate applies the SAME quality/lang
    expressions as the batch queries and dedups by fingerprint:
    survivors are exactly the passing docs, one per distinct
    fingerprint."""
    from pyspark.sql import types as T

    from _kafka_streams_scaffold_spark.operators import textops
    from _kafka_streams_scaffold_spark.operators.curation import (
        KEEP_LANG,
        MIN_QUALITY,
    )

    good = ("the quick brown fox jumps over the lazy dog and then "
            "a cat sat on the mat of the house in the garden is nice "
            "and the day is long and the sun is warm in the sky above")
    rows = [
        {"doc_id": 0, "text": good, "ts": "2024-01-01T10:00:00"},
        {"doc_id": 1, "text": good, "ts": "2024-01-01T10:05:00"},   # dup
        {"doc_id": 2, "text": "el la de los y que en " * 10,
         "ts": "2024-01-01T10:06:00"},                               # es
        {"doc_id": 3, "text": "#### ---- !!!! 1234 " * 10,
         "ts": "2024-01-01T10:07:00"},                               # junk
        {"doc_id": 4, "text": good + " extra tail words here",
         "ts": "2024-01-01T10:08:00"},                               # distinct
    ]
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = str(tmp_path / "docs")
    _write_json(src, "a.json", rows)
    stream = spark.readStream.schema(schema).json(src)
    out = pipeline.streaming_corpus_filter(stream)
    q = pipeline.run_append_to_parquet(
        out, str(tmp_path / "kept"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    kept = spark.read.parquet(str(tmp_path / "kept")).collect()

    # batch twin: same expressions on the same frame
    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    ).select(
        "doc_id",
        textops.quality_score_expr().alias("qs"),
        textops.pred_lang_expr().alias("lang"),
        textops.fingerprint_expr().alias("fp"),
    ).collect()
    passing = [r for r in batch
               if r["qs"] >= MIN_QUALITY and r["lang"] == KEEP_LANG]
    assert {r["doc_id"] for r in passing} == {0, 1, 4}
    # survivors: one per distinct passing fingerprint
    assert len(kept) == len({r["fp"] for r in passing}) == 2
    assert {r["fingerprint"] for r in kept} == {r["fp"] for r in passing}
    # the es and junk docs never pass
    assert {r["doc_id"] for r in kept} <= {0, 1, 4}


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    clicks = [
        {"ts": "2024-01-01T01:00:00", "user_id": 1, "event_type": "click", "value": 0.0},
        # user 3 has NO purchase at all -> must surface with nulls
        {"ts": "2024-01-01T01:30:00", "user_id": 3, "event_type": "click", "value": 0.0},
    ]
    purchases = [
        {"ts": "2024-01-01T00:30:00", "user_id": 1, "event_type": "purchase", "value": 9.0},
    ]
    # far-future flusher events on BOTH sides: push the watermark past
    # every real row so the engine can prove no match is coming and
    # release the unmatched click (emission trails by watermark delay)
    flush_c = [{"ts": "2024-01-02T12:00:00", "user_id": 99, "event_type": "click", "value": 0.0}]
    flush_p = [{"ts": "2024-01-02T12:00:00", "user_id": 98, "event_type": "purchase", "value": 1.0}]
    csrc, psrc = str(tmp_path / "clicks"), str(tmp_path / "purch")
    _write_json(csrc, "a.json", clicks)
    _write_json(csrc, "b.json", flush_c)
    _write_json(psrc, "a.json", purchases)
    _write_json(psrc, "b.json", flush_p)
    joined = pipeline.clicks_with_recent_purchase(
        _file_stream(spark, csrc, EV_SCHEMA),
        _file_stream(spark, psrc, EV_SCHEMA),
        join_type="leftOuter",
    )
    sink = str(tmp_path / "out")
    q = pipeline.run_append_to_parquet(joined, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["purchase_value"])
        for r in spark.read.parquet(sink).collect()
        if r["user_id"] != 99  # the flusher click itself (also unmatched)
    }
    assert (1, 9.0) in got          # matched pair
    assert (3, None) in got         # unmatched click emitted with nulls


def test_streaming_ewma_converges_to_batch(spark, tmp_path):
    """Drain the sf0.001 events through the stateful streaming EWMA
    and assert the converged per-user state equals the batch
    operator's LAST row per user BIT-FOR-BIT (same fold, same
    deterministic order, same normalizer)."""
    from _kafka_streams_scaffold_spark.operators import stats as stats_mod

    sfd = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sfd}/events.parquet").select(
        "user_id", "event_id", "ts", "value"
    )
    src = str(tmp_path / "src")
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "user_id long, event_id long, ts timestamp, value double"
    ).parquet(src)
    agg = stateful.streaming_ewma(stream)
    store = serving.MemoryStore(["user_id"])
    q = pipeline.run_update_into_store(agg, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {
        k[0]: (v["n_window"], v["ewma"]) for k, v in store.snapshot().items()
    }

    from pyspark.sql import Window as W

    batch = stats_mod.ewma_user_value_query(spark, sfd)
    last = (
        batch.join(
            ev.select("user_id", "event_id", "ts"), ["user_id", "event_id"]
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .collect()
    )
    want = {r["user_id"]: (r["n_window"], r["ewma"]) for r in last}
    assert got == want and got


def test_watermark_drops_late_rows_in_windowed_agg(spark, tmp_path):
    """Late-data semantics, observed end to end: with a 10-minute
    watermark on append-mode windowed counts, a straggler arriving
    AFTER its window was evicted is dropped and reported in
    numRowsDroppedByWatermark. Two subtleties this test documents:
    (1) the watermark advances at batch BOUNDARIES, so eviction needs
    a spacer batch between the watermark-advancing event and the
    straggler — a straggler arriving while its window is still
    buffered legitimately merges; (2) the file source orders batches
    by MODIFICATION TIME, so the files pin explicit mtimes (equal
    mtimes make batch order — and thus this whole scenario —
    nondeterministic)."""
    import os as _os
    import time as _time

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    base = _time.time() - 1000

    def timed(name, rows, off):
        _write_json(src, name, rows)
        p = _os.path.join(src, name)
        _os.utime(p, (base + off, base + off))

    timed("a.json", [{"ts": "2024-01-01T00:05:00", "event_type": "click", "value": 1.0}], 0)
    timed("b.json", [{"ts": "2024-01-01T02:00:00", "event_type": "click", "value": 1.0}], 10)
    # spacer: lets the batch-2 eviction run with the advanced watermark
    timed("c.json", [{"ts": "2024-01-01T03:00:00", "event_type": "click", "value": 1.0}], 20)
    # straggler for the long-evicted 00:00 window
    timed("d.json", [{"ts": "2024-01-01T00:06:00", "event_type": "click", "value": 9.0}], 30)

    agg = (
        _file_stream(spark, src, schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("ws"), "event_type", "cnt")
    )
    out = str(tmp_path / "out")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p.get("stateOperators")
    )
    assert dropped == 1, "the straggler must be dropped by the watermark"
    got = {
        (str(r["ws"]), r["event_type"]): r["cnt"]
        for r in spark.read.parquet(out).collect()
    }
    # the 00:00 window closed with ONLY the on-time row
    assert got.get(("2024-01-01 00:00:00", "click")) == 1

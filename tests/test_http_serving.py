"""Interactive-query HTTP tier tests, mirroring the reference's
service tests: exact wordcount JSON bodies
(``WordCountServiceTests.java:70-87``), purchases range-scan merge
(``PurchasesServiceTests.java:59-88``), and metadata routes
(``MetadataServiceTests.java:59-105``)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import Row

from _kafka_streams_scaffold_spark.operators import purchases, wordcount
from _kafka_streams_scaffold_spark.streaming.http_serving import (
    InteractiveQueryServer,
    SparkStoreAdapter,
)
from _kafka_streams_scaffold_spark.streaming.serving import (
    MemoryStore,
    ParquetChangelogStore,
)

WORDCOUNT_STORE = "demo-wordcount-store"
PURCHASES_STORE = "demo-purchases-aggregate-store"


def _get(port: int, path: str) -> tuple[int, str]:
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, ""


@pytest.fixture()
def server():
    srv = InteractiveQueryServer()
    yield srv
    srv.stop()


def test_wordcount_point_exact_reference_bodies(spark, server):
    """Byte-for-byte parity with WordCountServiceTests.recordByKeyOverAPI:
    one sentence -> {"fox":1}; three sentences -> {"fox":3}."""
    store = MemoryStore(["word"])
    server.bind_point(
        "wordcount", store, "word", "cnt", store_name=WORDCOUNT_STORE
    )
    port = server.start()

    sentence = "the quick brown fox jumps over the lazy dog"

    def produce(lines):
        df = spark.createDataFrame([Row(text=t) for t in lines])
        store.upsert_batch(wordcount.wordcount(df), batch_id=len(lines))

    produce([sentence])
    assert _get(port, "/wordcount/fox") == (200, '{"fox":1}')

    produce([sentence] * 3)
    assert _get(port, "/wordcount/fox") == (200, '{"fox":3}')

    # Missing key: singletonMap(key, null), reference handler shape.
    assert _get(port, "/wordcount/zebra") == (200, '{"zebra":null}')


def test_purchases_range_scan_merge(spark, server):
    """GET /purchases/{customer} returns every product row for that
    customer merged into one JSON object keyed by compound key, with
    the reference's CountAndTotal field names."""
    ev = spark.createDataFrame(
        [
            Row(user_id="00042", event_type="00007", value=4.0),
            Row(user_id="00042", event_type="00007", value=5.0),
            Row(user_id="00042", event_type="00013", value=2.0),
            Row(user_id="00099", event_type="00007", value=8.0),
        ]
    )
    agg = purchases.aggregate_count_and_total(
        purchases.select_compound_key(ev)
    )
    store = MemoryStore(["key"])
    store.upsert_batch(agg, batch_id=0)
    server.bind_range(
        "purchases",
        store,
        "key",
        {"count": "cnt", "total": "total"},
        store_name=PURCHASES_STORE,
    )
    port = server.start()

    status, body = _get(port, "/purchases/00042")
    assert status == 200
    assert json.loads(body) == {
        "00042-00007": {"count": 2, "total": 9.0},
        "00042-00013": {"count": 1, "total": 2.0},
    }
    # Other customer's rows never leak into the range.
    status, body = _get(port, "/purchases/00099")
    assert json.loads(body) == {"00099-00007": {"count": 1, "total": 8.0}}
    assert json.loads(_get(port, "/purchases/00001")[1]) == {}


def test_metadata_routes(spark, server):
    store = MemoryStore(["word"])
    server.bind_point(
        "wordcount", store, "word", "cnt", store_name=WORDCOUNT_STORE
    )
    port = server.start()

    status, body = _get(port, "/metadata")
    assert status == 200
    meta = json.loads(body)
    # One logical host owning every store (Q3/Q4 are obsolete by design).
    assert list(meta.keys()) == [f"127.0.0.1:{port}"]
    assert meta[f"127.0.0.1:{port}"] == [WORDCOUNT_STORE]

    status, body = _get(port, f"/metadata/{WORDCOUNT_STORE}")
    assert status == 200
    assert json.loads(body) == {f"127.0.0.1:{port}": [WORDCOUNT_STORE]}

    assert _get(port, "/metadata/nope")[0] == 404
    assert _get(port, "/unknown/route")[0] == 404


def test_wordcount_service_end_to_end(spark, server, tmp_path):
    """The whole WordCount application, reference-shaped: Kafka wire
    schema -> decode_kv -> streaming wordcount -> foreachBatch store
    upsert -> HTTP point reads with the reference's exact bodies
    (WordCountServiceTests.recordByKeyOverAPI, minus only the broker
    transport)."""
    import datetime as dt

    from pyspark.sql import types as T

    from _kafka_streams_scaffold_spark.sources import kafka as ksrc
    from _kafka_streams_scaffold_spark.streaming import pipeline

    wire_schema = T.StructType(
        [
            T.StructField("key", T.BinaryType()),
            T.StructField("value", T.BinaryType()),
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("timestamp", T.TimestampType()),
        ]
    )
    sentence = "the quick brown fox jumps over the lazy dog"
    src = str(tmp_path / "wire")

    def produce(offset: int):
        spark.createDataFrame(
            [
                Row(
                    key=b"test",
                    value=sentence.encode(),
                    topic="demo-plaintext-input",
                    partition=0,
                    offset=offset,
                    timestamp=dt.datetime(2024, 1, 1),
                )
            ],
            wire_schema,
        ).write.mode("append").parquet(src)

    store = MemoryStore(["word"])
    server.bind_point(
        "wordcount", store, "word", "cnt", store_name=WORDCOUNT_STORE
    )
    port = server.start()

    def run_stream():
        wire = spark.readStream.schema(wire_schema).parquet(src)
        agg = pipeline.streaming_wordcount(
            ksrc.decode_kv(wire), text_col="value"
        )
        q = pipeline.run_update_into_store(
            agg, store, str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)

    produce(0)
    run_stream()
    assert _get(port, "/wordcount/fox") == (200, '{"fox":1}')

    # Two more records; the availableNow restart picks up from the
    # checkpoint (same store, same path) — counts accumulate to 3.
    produce(1)
    produce(2)
    run_stream()
    assert _get(port, "/wordcount/fox") == (200, '{"fox":3}')
    assert _get(port, "/wordcount/the") == (200, '{"the":6}')


def test_parquet_changelog_compaction(spark, tmp_path):
    """Compaction folds history to the latest-wins snapshot, reads are
    unchanged before/after, and later upserts still win."""
    import glob

    store = ParquetChangelogStore(str(tmp_path / "wc"), ["word"])
    for b in range(5):
        store.upsert_batch(
            spark.createDataFrame(
                [Row(word="fox", cnt=b + 1), Row(word="dog", cnt=10 + b)]
            ),
            batch_id=b,
        )
    before = {r["word"]: r["cnt"] for r in store.read(spark).collect()}
    n_files_before = len(glob.glob(f"{store.path}/*.parquet"))

    assert store.compact(spark) == 2
    after = {r["word"]: r["cnt"] for r in store.read(spark).collect()}
    assert after == before == {"fox": 5, "dog": 14}
    # History physically gone: one snapshot write vs 5 appends.
    assert len(glob.glob(f"{store.path}/*.parquet")) < n_files_before
    # Raw rows: exactly one per key.
    assert spark.read.parquet(store.path).count() == 2

    # Upserts after compaction still win on read (larger batch ids).
    store.upsert_batch(
        spark.createDataFrame([Row(word="fox", cnt=99)]), batch_id=7
    )
    assert store.get(spark, "fox")["cnt"] == 99
    assert store.compact(spark) == 2
    assert store.get(spark, "fox")["cnt"] == 99


def test_parquet_changelog_store_behind_http(spark, server, tmp_path):
    """The scale-grade store serves through the same HTTP surface via
    the adapter; latest batch wins per key."""
    store = ParquetChangelogStore(str(tmp_path / "wc"), ["word"])
    df1 = spark.createDataFrame([Row(word="fox", cnt=1)])
    df2 = spark.createDataFrame([Row(word="fox", cnt=3)])
    store.upsert_batch(df1, batch_id=0)
    store.upsert_batch(df2, batch_id=1)

    server.bind_point(
        "wordcount",
        SparkStoreAdapter(store, spark),
        "word",
        "cnt",
        store_name=WORDCOUNT_STORE,
    )
    port = server.start()
    assert _get(port, "/wordcount/fox") == (200, '{"fox":3}')


def test_registry_query_endpoint(spark):
    import json
    import urllib.request

    from _kafka_streams_scaffold_spark.streaming.http_serving import (
        InteractiveQueryServer,
        RegistryQueryService,
    )

    server = InteractiveQueryServer()
    svc = RegistryQueryService(spark, "/root/testdata/sf0.001", max_rows=5)
    svc.bind(server)
    port = server.start()
    try:
        base = f"http://127.0.0.1:{port}"
        listing = json.load(urllib.request.urlopen(f"{base}/query"))
        assert "wordcount" in listing["queries"]
        assert len(listing["queries"]) >= 150
        body = json.load(urllib.request.urlopen(f"{base}/query/wordcount"))
        assert body["truncated"] is True  # 31 words > max_rows=5
        assert len(body["rows"]) == 5
        assert {"word", "cnt"} <= set(body["rows"][0])
        # unknown query -> 404
        try:
            urllib.request.urlopen(f"{base}/query/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
        # metadata advertises the query surface
        meta = json.load(urllib.request.urlopen(f"{base}/metadata"))
        assert "query" in next(iter(meta.values()))
    finally:
        server.stop()


def test_server_500_json_and_nonfinite_floats(spark):
    """ADVICE r3: execution failures must surface as a JSON 500 (not a
    dropped connection), and non-finite floats must canonicalize to
    null (json.dumps would otherwise emit non-standard NaN/Infinity
    tokens)."""
    import json
    import urllib.error
    import urllib.request

    from _kafka_streams_scaffold_spark.streaming.http_serving import (
        InteractiveQueryServer,
        RegistryQueryService,
    )

    server = InteractiveQueryServer()
    svc = RegistryQueryService(spark, "/root/testdata/sf0.001", max_rows=5)
    # a registered "query" that blows up at execution time
    def boom(sp, sf):
        raise RuntimeError("deliberate failure")
    svc._queries["boom"] = boom
    # and one that returns non-finite floats
    def nonfinite(sp, sf):
        return sp.sql(
            "SELECT double('NaN') AS a, double('Infinity') AS b,"
            " double(1.5) AS c"
        )
    svc._queries["nonfinite"] = nonfinite
    svc.bind(server)
    port = server.start()
    try:
        base = f"http://127.0.0.1:{port}"
        try:
            urllib.request.urlopen(f"{base}/query/boom")
            raise AssertionError("expected 500")
        except urllib.error.HTTPError as e:
            assert e.code == 500
            body = json.load(e)
            assert "deliberate failure" in body["error"]
        raw = urllib.request.urlopen(f"{base}/query/nonfinite").read()
        body = json.loads(raw)  # must be strict-JSON parseable
        assert b"NaN" not in raw and b"Infinity" not in raw
        assert body["rows"][0] == {"a": None, "b": None, "c": 1.5}
    finally:
        server.stop()


def test_concurrent_registry_queries_release_their_pins(spark, sf_dir):
    """Two concurrent ``/query/{name}`` requests on the threaded server
    each return the rows of a serial run, and neither leaves a pin
    behind: each request's pins live in its own scope, so one
    request's release cannot free a pin the other is still reading."""
    import threading

    from _kafka_streams_scaffold_spark import pinning
    from _kafka_streams_scaffold_spark.streaming.http_serving import (
        InteractiveQueryServer,
        RegistryQueryService,
    )

    def stored() -> set[int]:
        jsc = spark.sparkContext._jsc.sc()
        return {i.id() for i in jsc.getRDDStorageInfo()}

    def canon(body: dict) -> list[str]:
        assert body["truncated"] is False
        return sorted(json.dumps(r, sort_keys=True) for r in body["rows"])

    names = ("corpus_keep", "blocking_recall_audit")
    pinning.unpersist_all()
    before = stored()
    svc = RegistryQueryService(spark, sf_dir, max_rows=10**6)
    serial = {n: canon(svc.run(n)) for n in names}

    server = InteractiveQueryServer()
    svc.bind(server)
    port = server.start()
    got: dict[str, object] = {}

    def request(name: str) -> None:
        try:
            status, body = _get(port, f"/query/{name}")
            got[name] = (status, json.loads(body) if body else None)
        except Exception as e:  # surfaced by the assertion below
            got[name] = e

    try:
        threads = [threading.Thread(target=request, args=(n,)) for n in names]
        for t in threads:
            t.start()
        for t in threads:
            t.join(600)
    finally:
        server.stop()
    for n in names:
        status, body = got[n]
        assert status == 200, (n, got[n])
        assert canon(body) == serial[n], n
    leaked = stored() - before
    assert not leaked, f"{len(leaked)} RDDs still stored after the requests"
    assert pinning.unpersist_all() == 0  # the root scope holds no pins

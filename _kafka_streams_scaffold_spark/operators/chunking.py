"""Chunk-level dedup over opaque binary payloads.

Two chunkers over the multimodal payload column:

- FIXED-SIZE chunking (``payload_chunks_fixed``): split every payload
  into CHUNK_BYTES slices, fingerprint each, and measure corpus-wide
  chunk duplication. Fully SQL-expressible (binary substring + md5
  on both engines), hash-checked end to end. Its known weakness is
  the boundary-shift problem: insert one byte at the front and every
  subsequent chunk changes.

- CONTENT-DEFINED chunking (``payload_chunks_cdc``): Gear-hash CDC
  (the FastCDC/LBFS family — Muthitacharoen et al. 2001, Xia et al.
  2016): a rolling hash over the last GEAR_WINDOW bytes cuts where
  ``hash & CDC_MASK == 0``, so boundaries are a function of local
  CONTENT, and an insertion only perturbs chunks until the next
  content-defined cut re-synchronizes — the property that makes
  dedup of shifted/edited binary blobs (video re-muxes, appended
  archives) work. Runs as an Arrow-batched ``mapInPandas`` with a
  NumPy-vectorized candidate scan (the rolling hash is a 64-term
  shifted sum, computed as GEAR_WINDOW vector passes; only the
  min/max-length walk over candidate cuts is sequential, ~n/64
  steps). Deterministic (gear table derived from md5 of the byte
  value), but no SQL engine can express it — registered rows-only,
  with the real contract pinned by pytest: full coverage, length
  bounds, bit-exact determinism, and boundary re-synchronization
  under a prefix edit.

Scale: both chunkers are map-only over the payload column — nothing
shuffles except (doc_id, digest) id-width rows for the duplication
rollup; the CDC state is one rolling hash per stream position, Arrow
batches bound memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..registry import query
from .multimodal import with_payload

CHUNK_BYTES = 64  # fixed-size chunker slice

GEAR_WINDOW = 64  # bytes of history in the rolling hash (shift width)
CDC_MASK = 0x3F  # 6 zero bits -> expected chunk ~64 bytes
CDC_MIN = 16
CDC_MAX = 256

# Deterministic gear table: 64-bit value per byte from md5 — no RNG,
# so chunk boundaries are reproducible across runs/engines/partitions.
_GEAR = [
    int.from_bytes(hashlib.md5(bytes([b])).digest()[:8], "big")
    for b in range(256)
]


# --------------------------------------------------------------------------
# Fixed-size chunking (oracle-checked)
# --------------------------------------------------------------------------

@query()
def payload_chunks_fixed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chunks, n_dup_chunks, dup_fraction): every payload
    cut into CHUNK_BYTES slices; a chunk is a duplicate if its digest
    occurs more than once CORPUS-WIDE (the storage-dedup accounting:
    duplicate chunks are the ones a content-addressed store would
    not write twice). Chunking and hashing are per-row expressions;
    the only shuffles carry (digest) / (doc_id, flag) id-width rows."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    p = with_payload(docs)
    # empty-payload guard: Spark's sequence(0, -1) DESCENDS instead of
    # being empty, so zero-length payloads must short-circuit to an
    # empty array (DuckDB's generate_series(0, -1) is empty already)
    chunks = p.select(
        "doc_id",
        F.explode(
            F.expr(
                "case when length(payload) = 0 then"
                " cast(array() as array<string>) else"
                " transform(sequence(0, cast((length(payload) - 1) div"
                f" {CHUNK_BYTES} as int)),"
                f" i -> md5(substring(payload, i * {CHUNK_BYTES} + 1,"
                f" {CHUNK_BYTES}))) end"
            )
        ).alias("digest"),
    )
    dup = (
        chunks.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > 1)
        .select("digest")
    )
    flagged = dup.select("digest", F.lit(1).alias("is_dup"))
    return (
        chunks.join(F.broadcast(flagged), "digest", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.coalesce("is_dup", F.lit(0)))
            .cast("bigint")
            .alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            (
                F.col("n_dup_chunks").cast("double")
                / F.col("n_chunks").cast("double")
            ).alias("dup_fraction"),
        )
    )


PAYLOAD_CHUNKS_FIXED_ORACLE = f"""
WITH chunks AS (
  SELECT doc_id,
         unnest([md5(substring(text, i * {CHUNK_BYTES} + 1, {CHUNK_BYTES}))
                 for i in generate_series(0,
                   CAST((length(text) - 1) // {CHUNK_BYTES} AS INT))])
           AS digest
  FROM documents
  WHERE text IS NOT NULL
),
dup AS (
  SELECT digest FROM chunks GROUP BY digest HAVING count(*) > 1
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN d.digest IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(sum(CASE WHEN d.digest IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS dup_fraction
FROM chunks c LEFT JOIN dup d ON d.digest = c.digest
GROUP BY c.doc_id
"""


# --------------------------------------------------------------------------
# Content-defined chunking (rows-only; contract pinned by pytest)
# --------------------------------------------------------------------------

def cdc_boundaries(data: bytes) -> list[int]:
    """Cut offsets (exclusive ends) for one payload — pure function
    of content. Vectorized candidate scan + sequential min/max walk."""
    import numpy as np

    n = len(data)
    if n == 0:
        return []
    buf = np.frombuffer(data, dtype=np.uint8)
    gear = np.asarray(_GEAR, dtype=np.uint64)
    vals = gear[buf]
    h = np.zeros(n, dtype=np.uint64)
    for j in range(min(GEAR_WINDOW, n)):
        # h[i] += gear[b[i-j]] << j  (uint64 wraps, as the rolling form)
        h[j:] += vals[: n - j] << np.uint64(j)
    candidates = np.nonzero((h & np.uint64(CDC_MASK)) == 0)[0] + 1
    cuts: list[int] = []
    start = 0
    for c in candidates:
        if c - start < CDC_MIN:
            continue
        while c - start > CDC_MAX:
            start += CDC_MAX
            cuts.append(start)
        cuts.append(int(c))
        start = int(c)
    while n - start > CDC_MAX:
        start += CDC_MAX
        cuts.append(start)
    if start < n:
        cuts.append(n)
    return cuts


CDC_SCHEMA = "doc_id long, chunk_idx int, offset long, length long, digest string"


def payload_chunks_cdc(p: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, offset, length, digest) via mapInPandas —
    input must carry (doc_id, payload)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                start = 0
                for idx, end in enumerate(cdc_boundaries(data)):
                    out.append(
                        {
                            "doc_id": doc_id,
                            "chunk_idx": idx,
                            "offset": start,
                            "length": end - start,
                            "digest": hashlib.md5(
                                data[start:end]
                            ).hexdigest(),
                        }
                    )
                    start = end
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "chunk_idx", "offset", "length", "digest",
                ],
            )

    return p.select("doc_id", "payload").mapInPandas(_batches, CDC_SCHEMA)


# Content-defined chunking: the Gear rolling hash is not
# SQL-expressible — rows-only; its contract (determinism,
# coverage, bounds, boundary re-synchronization under edits)
# is pinned in tests/test_chunking.py.
@query(oracle=None)
def payload_chunks_cdc_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chunks, n_dup_chunks, mean_chunk_bytes): per-doc
    rollup of the content-defined chunk stream with the same
    corpus-wide duplicate accounting as the fixed chunker —
    registered rows-only (no SQL engine can express the rolling
    hash); determinism, coverage, bounds, and the re-synchronization
    property are pinned in tests/test_chunking.py."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    chunks = payload_chunks_cdc(with_payload(docs))
    dup = (
        chunks.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > 1)
        .select("digest", F.lit(1).alias("is_dup"))
    )
    return (
        chunks.join(F.broadcast(dup), "digest", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.coalesce("is_dup", F.lit(0)))
            .cast("bigint")
            .alias("n_dup_chunks"),
            (F.sum("length") / F.count(F.lit(1)))
            .cast("double")
            .alias("mean_chunk_bytes"),
        )
    )

"""Load-time data-contract quarantine (tables.quarantine) and its
DuckDB-view mirror in tools/check_oracle.py.

The Spark loader drops NULL / wrong-length embedding vectors at load
time so compiled expressions (zip_with dot products, slice) never see
a malformed row. Both engines must apply the SAME rule: a raw-parquet
DuckDB view over a dataset with one malformed vector would make every
embeddings-backed oracle check diverge (round-5 ADVICE low finding).
"""

from __future__ import annotations

import pathlib

import pyspark.sql.types as T

from _kafka_streams_scaffold_spark import tables


def _mixed_vectors(spark):
    dim = tables.EMBED_DIM
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [
        (1, [0.5] * dim),          # healthy
        (2, None),                 # NULL vector
        (3, [0.5] * (dim - 1)),    # too short
        (4, [0.5] * (dim + 3)),    # too long
        (5, []),                   # empty
    ]
    return spark.createDataFrame(rows, schema)


def test_quarantine_drops_malformed_embeddings(spark):
    df = tables.quarantine("embeddings", _mixed_vectors(spark))
    kept = sorted(r["vec_id"] for r in df.collect())
    assert kept == [1]


def test_quarantine_only_applies_to_embeddings(spark):
    df = _mixed_vectors(spark)
    assert tables.quarantine("documents", df) is df


def test_duckdb_view_mirror_matches_quarantine(spark, tmp_path):
    """Write the mixed frame to parquet, register it with the exact
    view predicate check_oracle.py uses, and assert DuckDB keeps the
    same row set the Spark quarantine keeps."""
    import duckdb

    path = str(tmp_path / "embeddings.parquet")
    _mixed_vectors(spark).coalesce(1).write.parquet(path)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM '{path}/*.parquet' "
        f"WHERE embedding IS NOT NULL "
        f"AND len(embedding) = {tables.EMBED_DIM}"
    )
    kept = sorted(r[0] for r in con.execute(
        "SELECT vec_id FROM embeddings").fetchall())
    assert kept == [1]

    spark_kept = sorted(
        r["vec_id"]
        for r in tables.quarantine(
            "embeddings", spark.read.parquet(path)
        ).collect()
    )
    assert kept == spark_kept


def test_check_oracle_embeds_the_mirror_predicate():
    """Guard the tool itself: if someone reverts the view to raw
    parquet, this fails before the divergence can bite."""
    tool = pathlib.Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"
    src = tool.read_text()
    assert "len(embedding)" in src
    assert "embedding IS NOT NULL" in src

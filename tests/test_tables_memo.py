"""Round-11 table-plan memoization: `tables.table` returns one lazy
plan object per (session, sf_dir, name, file stat) — repeated loads
were ~180 ms of driver-side listing/footer/analysis each, paid
thousands of times per bench session — and the memo must never change
values, leak across inputs or outlive a rewrite of the file."""

from __future__ import annotations

import os

from _kafka_streams_scaffold_spark import tables


def test_table_memoized_per_session_and_input(spark, sf_dir):
    a = tables.table(spark, sf_dir, "documents")
    b = tables.table(spark, sf_dir, "documents")
    assert a is b
    c = tables.table(spark, sf_dir, "events")
    assert c is not a
    # values flow from the parquet input (no materialization in memo)
    assert a.count() == a.count() > 0


def test_token_is_stable_and_input_specific(spark, sf_dir):
    t1 = tables.token(spark, sf_dir, "documents")
    t2 = tables.token(spark, sf_dir, "documents")
    assert t1 == t2
    assert tables.token(spark, sf_dir, "embeddings") != t1


def test_df_token_matches_semantic_hash(spark, sf_dir):
    df = tables.table(spark, sf_dir, "documents")
    assert tables.df_token(df) == df.semanticHash()
    # a synthetic frame gets its own hash (no cross-input collision)
    syn = spark.range(5).selectExpr("id as doc_id", "'x' as text")
    assert tables.df_token(syn) == syn.semanticHash()
    assert tables.df_token(syn) != tables.df_token(df)


def _racing_dead_ref(memo: dict, key):
    """A dead weakref whose call evicts ``key`` first — exactly what a
    concurrent thread's eviction does between the lookup and the
    eviction of the caller that found the entry dead."""

    def ref():
        memo.pop(key, None)
        return None

    return ref


def test_dead_entry_eviction_tolerates_a_concurrent_evict(spark, sf_dir):
    stat = tables._stat_key(os.path.join(sf_dir, "documents.parquet"))
    key = (id(spark), sf_dir, "documents", stat)
    saved = tables._TABLE_MEMO.get(key)
    tables._TABLE_MEMO[key] = (_racing_dead_ref(tables._TABLE_MEMO, key), None)
    try:
        df = tables.table(spark, sf_dir, "documents")
        assert df is not None and tables.table(spark, sf_dir, "documents") is df
    finally:
        if saved is not None:
            tables._TABLE_MEMO[key] = saved

    syn = spark.range(3).selectExpr("id as doc_id")
    tables._TOKEN_MEMO[id(syn)] = (
        _racing_dead_ref(tables._TOKEN_MEMO, id(syn)),
        -1,
    )
    assert tables.df_token(syn) == syn.semanticHash()


def test_table_rewritten_in_place_serves_the_new_rows(spark, tmp_path):
    path = str(tmp_path / "region.parquet")

    def write(names):
        rows = list(enumerate(names))
        spark.createDataFrame(rows, "r_regionkey int, r_name string").coalesce(
            1
        ).write.mode("overwrite").parquet(path)

    def names():
        df = tables.table(spark, str(tmp_path), "region")
        return sorted(r.r_name for r in df.collect())

    write(["A"])
    assert names() == ["A"]
    write(["X", "Y"])
    assert names() == ["X", "Y"]

"""Physical-plan assertions for the round-3 operators: the properties
each plan must keep at 100 TB, enforced as tests (PLANS.md carries the
human-readable trees). Assertions parse the plan TREE only — the
formatted details section repeats every node header."""

from __future__ import annotations

import re

from _kafka_streams_scaffold_spark.operators import (
    lm,
    quantize,
    sampling,
    substring_dedup,
)
from _kafka_streams_scaffold_spark.plans import inspect as pi


def _n(tree: str, node: str) -> int:
    """Distinct plan nodes of a type: the tree renders `Name (id)` and
    repeats cached-subplan nodes, so count unique ids (word-anchored —
    `Exchange` must not match `BroadcastExchange`)."""
    return len(set(re.findall(rf"(?<![A-Za-z]){node}[^\n(]*\((\d+)\)", tree)))


def test_unigram_lm_broadcasts_surprisal_table(spark, sf_dir, pin_builds):
    # the consumer's tree plus every pin build's: the single parquet
    # scan being asserted lives INSIDE the pinned token frame's build
    ts = pin_builds.trees(lm.unigram_lm_score_query(spark, sf_dir))
    # vocabulary-sized surprisal table broadcasts onto the token
    # stream: occurrences must NOT sort-merge for the scoring join
    assert sum(_n(t, "BroadcastHashJoin") for t in ts) >= 1
    assert sum(_n(t, "SortMergeJoin") for t in ts) == 0
    # the pinned token frame means documents parquet is scanned once
    assert sum(_n(t, "Scan parquet") for t in ts) == 1


def test_quality_tiers_has_no_global_sort(spark, sf_dir):
    t = pi.tree(sampling.quality_tiers_query(spark, sf_dir))
    # the whole point vs NTILE: no global sort / single-task window
    assert _n(t, "Window") == 0
    assert _n(t, "Sort") == 0
    # one-row cutoffs arrive via broadcast
    assert "Broadcast" in t


def test_shared_substrings_one_data_shuffle(spark, sf_dir):
    t = pi.tree(substring_dedup.shared_substrings_query(spark, sf_dir))
    # no join, no sort; window dedup is array_distinct (map-side), so
    # the only exchanges are the conditional spread repartition plus
    # the ONE groupBy-window shuffle
    assert _n(t, "SortMergeJoin") == 0 and _n(t, "Sort") == 0
    assert _n(t, "Exchange") <= 2
    # partial aggregation runs before the exchange
    assert _n(t, "HashAggregate") >= 2


def test_embedding_quantize_is_shuffle_free_and_pruned(spark, sf_dir):
    df = quantize.embedding_quantize_query(spark, sf_dir)
    t = pi.tree(df)
    assert _n(t, "Exchange") == 0  # pure per-row expression
    cols = pi.read_schema_columns(df)
    # column pruning: the scan must not read `label`
    assert cols and all("label" not in c for c in cols)


def test_quantization_error_single_scan_partial_agg(spark, sf_dir):
    t = pi.tree(quantize.quantization_error_query(spark, sf_dir))
    assert _n(t, "Scan parquet") == 1  # no join back to the corpus
    assert _n(t, "HashAggregate") >= 2  # map-side partials

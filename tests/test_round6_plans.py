"""Physical-plan assertions for the round-6 operators: the properties
each plan must keep at 100 TB (PLANS.md carries the human-readable
trees; these enforce them)."""

from __future__ import annotations

import re

from _kafka_streams_scaffold_spark.operators import (
    dq,
    layout,
    multimodal,
    sampling,
)
from _kafka_streams_scaffold_spark.plans import inspect as pi


def _n(tree: str, node: str) -> int:
    return len(set(re.findall(rf"(?<![A-Za-z]){node}[^\n(]*\((\d+)\)", tree)))


def test_priority_sample_is_take_ordered_not_global_sort(spark, sf_dir):
    t = pi.tree(sampling.priority_sample_query(spark, sf_dir))
    assert _n(t, "TakeOrderedAndProject") == 1
    assert _n(t, "Sort") == 0  # never a global sort
    assert _n(t, "Exchange") == 0  # heap merge happens on the driver


def test_weighted_priority_sample_same_shape(spark, sf_dir):
    t = pi.tree(sampling.weighted_priority_sample_query(spark, sf_dir))
    assert _n(t, "TakeOrderedAndProject") == 1
    assert _n(t, "Sort") == 0


def test_dp_topk_single_rollup_then_take_ordered(spark, sf_dir):
    t = pi.tree(dq.dp_topk_release_query(spark, sf_dir))
    assert _n(t, "TakeOrderedAndProject") == 1
    assert _n(t, "HashAggregate") >= 1  # partial+final count rollup
    assert _n(t, "Sort") == 0


def test_payload_phash_no_agg_or_join_shuffle(spark, sf_dir):
    t = pi.tree(multimodal.payload_phash_query(spark, sf_dir))
    # the ONLY exchange allowed is tables.spread's parallelism
    # round-robin (a no-op on a multi-split cluster scan)
    assert _n(t, "Exchange") <= 1
    assert _n(t, "HashAggregate") == 0
    assert _n(t, "SortMergeJoin") == 0 and _n(t, "BroadcastHashJoin") == 0


def test_hilbert_chain_is_codegen_no_udf(spark, sf_dir):
    t = pi.tree(layout.hilbert_layout_query(spark, sf_dir))
    assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
    # one bounds broadcast + one 64-key rollup; the level chain must
    # collapse into projections, not per-level exchanges
    assert _n(t, "Exchange") <= 2
    assert _n(t, "BroadcastNestedLoopJoin") == 1  # one-row bounds join


def test_phash_pairs_posting_join_shape(spark, sf_dir, pin_builds):
    ts = pin_builds.trees(multimodal.phash_dup_pairs_query(spark, sf_dir))
    # candidate generation is an equi-join (posting lists), never a
    # cartesian/nested-loop pair scan — in the consumer or any pin build
    assert sum(_n(t, "CartesianProduct") for t in ts) == 0
    assert sum(_n(t, "BroadcastNestedLoopJoin") for t in ts) == 0

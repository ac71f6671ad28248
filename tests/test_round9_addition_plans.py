"""Physical-plan assertions for the round-9 post-freeze additions
(R10_MATERIAL): the properties each plan must keep at 100 TB.

The pinned-rollup tests assert over the consumer's tree plus every
pin build's tree (the ``pin_builds`` fixture): the property that
matters is that every reference reads ONE pin build — visible as a
single `Scan parquet` node across all those trees."""

from __future__ import annotations

import re

from _kafka_streams_scaffold_spark.operators import (
    lexstats,
    similarity,
    stats,
    textops,
)
from _kafka_streams_scaffold_spark.plans import inspect as pi


def _n(tree: str, node: str) -> int:
    return len(set(re.findall(rf"(?<![A-Za-z]){node}[^\n(]*\((\d+)\)", tree)))


def _n_all(trees: list[str], node: str) -> int:
    return sum(_n(t, node) for t in trees)


def _no_python(t: str) -> None:
    assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t


def test_tail_share_one_scan_broadcast_anti_head(spark, sf_dir, pin_builds):
    df = lexstats.tail_token_share_query(spark, sf_dir)
    ts = pin_builds.trees(df)
    t = "\n".join(ts)
    _no_python(t)
    # the (source, term) rollup is pinned: totals, the head and the
    # anti-probe all read ONE pin build — exactly one parquet scan
    # node across the trees, and the explode lives inside it
    assert pin_builds.reads(df)  # pinned artifact read, not re-derived
    assert _n_all(ts, "Scan parquet") == 1
    assert _n_all(ts, "Generate") <= 2
    # the constant-size head enters the tail filter as a broadcast
    # LEFT ANTI — never a shuffle keyed on the vocabulary
    assert "LeftAnti" in t and "BroadcastExchange" in t
    assert "TakeOrderedAndProject" in t
    assert "SortMergeJoin" not in t


def test_log_odds_grid_one_scan_broadcast_built(spark, sf_dir, pin_builds):
    df = lexstats.log_odds_terms_query(spark, sf_dir)
    ts = pin_builds.trees(df)
    t = "\n".join(ts)
    _no_python(t)
    assert pin_builds.reads(df)  # pinned artifact read, not re-derived
    assert _n_all(ts, "Scan parquet") == 1
    assert _n_all(ts, "Generate") <= 2
    # the sources x vocabulary grid comes from broadcasting the
    # |sources| totals onto the vocab frame; the grand total is a
    # broadcast scalar — no shuffle grows with the grid
    assert "BroadcastNestedLoopJoin" in t
    assert "SortMergeJoin" not in t


def test_lexicon_gate_is_one_scan_no_explode_shuffle(spark, sf_dir):
    t = pi.tree(textops.lexicon_gate_audit_query(spark, sf_dir))
    _no_python(t)
    # hit counting happens inside the document row (size/filter on the
    # token array) — no Generate, no join, one map-side-combinable agg
    assert "Generate" not in t
    assert "Join" not in t
    assert _n(t, "HashAggregate") >= 1


def test_v_measure_single_assignment_dimension_rollups(
    spark, sf_dir, pin_builds
):
    df = similarity.v_measure_cells_query(spark, sf_dir)
    t = "\n".join(pin_builds.trees(df))
    _no_python(t)
    # the (cell, label) joint rollup is pinned; cells/labels/grand
    # totals broadcast back onto it
    assert pin_builds.reads(df)  # pinned artifact read, not re-derived
    assert "SortMergeJoin" not in t
    assert "BroadcastNestedLoopJoin" in t or "BroadcastHashJoin" in t


def test_recall_curve_no_corpus_rescan_pairs(spark, sf_dir):
    t = pi.tree(similarity.recall_at_k_curve_query(spark, sf_dir))
    _no_python(t)
    # both rankings are bounded |queries| x TOP_K frames; the k-axis
    # explode runs on that bounded frame, never on the corpus, and no
    # unbounded cartesian appears
    assert "CartesianProduct" not in t


def test_weighted_median_window_runs_on_compressed_points(spark, sf_dir):
    df = stats.weighted_median_price_query(spark, sf_dir)
    t = pi.tree(df)
    _no_python(t)
    # The running-sum window must consume the (flag, cents) AGGREGATE,
    # never raw lineitem — walk the Window node's OWN child chain (the
    # indented lines under it, until indentation returns to its level)
    # and require a HashAggregate in that subtree before any parquet
    # scan. A flat substring search would pass on the totals branch's
    # aggregate even if the window regressed to corpus-sized input.
    lines = t.split("\n")
    win_i = next(
        i for i, ln in enumerate(lines) if ln.lstrip(" :+-*").startswith("Window")
    )
    win_indent = len(lines[win_i]) - len(lines[win_i].lstrip(" :+-*"))
    subtree = []
    for ln in lines[win_i + 1 :]:
        ind = len(ln) - len(ln.lstrip(" :+-*"))
        if ln.strip() and ind <= win_indent:
            break
        subtree.append(ln)
    agg_i = next(
        (i for i, ln in enumerate(subtree) if "HashAggregate" in ln), None
    )
    scan_i = next(
        (i for i, ln in enumerate(subtree) if "Scan parquet" in ln), None
    )
    assert agg_i is not None, "window input is not pre-aggregated"
    assert scan_i is None or agg_i < scan_i, (
        "window reads the corpus before aggregating"
    )
    # totals broadcast back onto the crossing filter
    assert "BroadcastHashJoin" in t
    assert "SortMergeJoin" not in t


def test_participation_ratio_one_pass_no_smj(spark, sf_dir, pin_builds):
    from _kafka_streams_scaffold_spark.operators import pca

    df = pca.participation_ratio_query(spark, sf_dir)
    ts = pin_builds.trees(df)
    t = "\n".join(ts)
    _no_python(t)
    # one corpus scan into the pinned d^2 moment rollup; trace and
    # Frobenius folds read the pin; marginals broadcast
    assert _n_all(ts, "Scan parquet") == 1
    assert "SortMergeJoin" not in t
    assert pin_builds.reads(df)  # pinned artifact read, not re-derived


def test_kendall_w_no_cartesian_no_python(spark, sf_dir):
    from _kafka_streams_scaffold_spark.operators import dedup

    t = pi.tree(dedup.kendall_w_detectors_query(spark, sf_dir))
    _no_python(t)
    # the tiers axis enters as a 4-row broadcast; the only wide work
    # is the detectors' own banded pair generation (shared pins)
    assert "CartesianProduct" not in t

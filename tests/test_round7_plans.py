"""Physical-plan assertions for the round-7 operators: the properties
each plan must keep at 100 TB (PLANS.md carries the human-readable
trees; these enforce them)."""

from __future__ import annotations

import re

from _kafka_streams_scaffold_spark.operators import (
    analytics,
    drift,
    layout,
    retrieval,
    sampling,
    sketches,
    stats,
    textops,
)
from _kafka_streams_scaffold_spark.plans import inspect as pi


def _n(tree: str, node: str) -> int:
    return len(set(re.findall(rf"(?<![A-Za-z]){node}[^\n(]*\((\d+)\)", tree)))


def test_maxsim_no_explode_single_broadcast(spark, sf_dir):
    t = pi.tree(retrieval.maxsim_late_interaction_query(spark, sf_dir))
    # all 16 sub-cosines must stay inside projections — never explode
    assert _n(t, "Generate") == 0
    assert _n(t, "BroadcastNestedLoopJoin") == 1  # the query panel
    assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
    assert _n(t, "SortMergeJoin") == 0


def test_rocchio_no_corpus_self_join(spark, sf_dir):
    t = pi.tree(retrieval.rocchio_expansion_query(spark, sf_dir))
    # every join involving the corpus must be broadcast-shaped (the
    # query panel is tiny); a SortMergeJoin would mean a corpus
    # self-join leaked in
    assert _n(t, "SortMergeJoin") == 0
    assert "BatchEvalPython" not in t


def test_jl_projection_is_codegen_on_pruned_panel(spark, sf_dir):
    t = pi.tree(drift.jl_projection_audit_query(spark, sf_dir))
    assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
    # the vec_id < 20 panel filter must reach the scan
    assert "PushedFilters" not in t or "vec_id" in t
    assert _n(t, "SortMergeJoin") == 0


def test_ks_pairwise_work_is_on_the_grid_not_the_corpus(spark, sf_dir):
    t = pi.tree(drift.ks_drift_audit_query(spark, sf_dir))
    # the corpus is touched by hash-aggregate rollups; the pair join
    # runs post-aggregation (joins exist, but no python, no generate)
    assert _n(t, "HashAggregate") >= 2
    assert "BatchEvalPython" not in t


def test_mmd_single_scan_feature_pass(spark, sf_dir):
    t = pi.tree(drift.mmd_label_drift_query(spark, sf_dir))
    # one embeddings scan computes all features (the pinned rollup
    # materializes it once; the final plan reads the cache, so at
    # most one parquet scan survives); the pair expansion must be
    # broadcast-shaped over the |labels| rollup
    assert t.count("Scan parquet") <= 1
    assert _n(t, "SortMergeJoin") == 0


def test_ams_sketch_is_one_pass_no_per_key_state(spark, sf_dir):
    t = pi.tree(sketches.ams_f2_estimate_query(spark, sf_dir))
    # the sign-sum side must be a global aggregate (no grouping keys
    # -> single-row partials), never keyed by user_id except in the
    # exact-F2 branch
    assert "BatchEvalPython" not in t
    assert _n(t, "HashAggregate") >= 2  # sketch agg + exact rollup


def test_theil_sen_pairs_only_after_day_rollup(spark, sf_dir):
    t = pi.tree(stats.theil_sen_trend_query(spark, sf_dir))
    # events scan feeds ONE aggregate before any join: the pair join
    # inputs are aggregates, not raw scans
    assert _n(t, "HashAggregate") >= 1
    assert "BatchEvalPython" not in t


def test_session_concurrency_sessionizes_once(spark, sf_dir, pin_builds):
    df = analytics.session_concurrency_query(spark, sf_dir)
    t = pi.tree(df)
    assert "BatchEvalPython" not in t
    # the pinned segment table feeds all three consumers: no parquet
    # scan survives in the final plan (the sessionization ran once at
    # pin time; every consumer reads the pin's leaf)
    assert t.count("Scan parquet") == 0
    assert pin_builds.reads(df)  # pinned artifact read, not re-derived
    assert _n(t, "BroadcastHashJoin") == 1  # days x peaks, both tiny


def test_locality_audit_distinct_before_walk(spark, sf_dir):
    t = pi.tree(layout.layout_locality_audit_query(spark, sf_dir))
    assert "BatchEvalPython" not in t
    # the distinct-cells aggregate must appear below the windows
    assert _n(t, "HashAggregate") >= 1
    assert _n(t, "Window") >= 2


def test_group_kfold_no_join_no_python(spark, sf_dir):
    t = pi.tree(sampling.group_kfold_split_query(spark, sf_dir))
    assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
    assert _n(t, "SortMergeJoin") == 0
    assert _n(t, "BroadcastHashJoin") == 0


def test_collocation_bigrams_stay_jvm_side(spark, sf_dir):
    t = pi.tree(textops.collocation_pmi_query(spark, sf_dir))
    assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
    # global top-k window sees only the >= MIN_COUNT survivors: the
    # window sits above a filter on the pair aggregate
    assert _n(t, "Window") == 1


def test_kcenter_update_steps_add_no_shuffles(spark, sf_dir):
    # the per-round frame (after two literal-center updates) must
    # still be shuffle-free: column updates only
    from pyspark.sql import functions as F

    from _kafka_streams_scaffold_spark import tables
    from _kafka_streams_scaffold_spark.operators.similarity import _emb

    emb = _emb(spark, sf_dir).select(
        "vec_id", "embedding", (F.col("norm") * F.col("norm")).alias("n2")
    )
    row = emb.orderBy("vec_id").limit(1).collect()[0]
    lits = ", ".join(
        f"cast({float(x)!r} as double)" for x in row["embedding"]
    )
    dot = (
        f"aggregate(zip_with(embedding, array({lits}), (x, y) -> "
        "cast(x as double) * y), cast(0 as double), (acc, t) -> acc + t)"
    )
    stepped = emb.withColumn(
        "mind", F.col("n2") + F.lit(float(row["n2"])) - 2.0 * F.expr(dot)
    ).withColumn(
        "mind",
        F.least(
            F.col("mind"),
            F.col("n2") + F.lit(float(row["n2"])) - 2.0 * F.expr(dot),
        ),
    )
    t = pi.tree(stepped)
    # spread's round-robin is the only allowed exchange
    assert _n(t, "Exchange") <= 1
    assert _n(t, "SortMergeJoin") == 0 and _n(t, "BroadcastHashJoin") == 0

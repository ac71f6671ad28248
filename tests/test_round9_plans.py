"""Physical-plan assertions for the round-9-material operators: the
properties each plan must keep at 100 TB (PLANS.md carries the
human-readable trees; these enforce them)."""

from __future__ import annotations

import re

from _kafka_streams_scaffold_spark.operators import (
    analytics,
    dq,
    drift,
    inference,
    lexstats,
)
from _kafka_streams_scaffold_spark.plans import inspect as pi


def _n(tree: str, node: str) -> int:
    return len(set(re.findall(rf"(?<![A-Za-z]){node}[^\n(]*\((\d+)\)", tree)))


def _no_python(t: str) -> None:
    assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t


def test_js_drift_single_explode_no_pairs(spark, sf_dir, pin_builds):
    df = drift.js_source_drift_query(spark, sf_dir)
    t = pi.tree(df)
    _no_python(t)
    assert "CartesianProduct" not in t
    # the (source, token) rollup is pinned, so every consumer branch
    # reads the pin — the corpus is exploded exactly once, inside the
    # pin's build
    assert pin_builds.reads(df)  # pinned artifact read, not re-derived
    assert _n(t, "Generate") <= 1
    # totals and the grand total enter as broadcasts, never shuffling
    # the (source, token) grid on a small side
    assert "BroadcastHashJoin" in t or "BroadcastNestedLoopJoin" in t


def test_good_turing_two_rollups_no_join(spark, sf_dir):
    t = pi.tree(lexstats.good_turing_unseen_query(spark, sf_dir))
    _no_python(t)
    assert "Join" not in t
    assert _n(t, "HashAggregate") >= 2


def test_ccf_corpus_reduced_before_lag_join(spark, sf_dir):
    t = pi.tree(inference.cross_correlation_lags_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    # the range self-join runs on the day spine (post-aggregate), with
    # the other side broadcast
    assert "BroadcastNestedLoopJoin" in t
    assert _n(t, "HashAggregate") >= 2


def test_sprt_one_rollup_then_spine_windows(spark, sf_dir):
    t = pi.tree(inference.sprt_daily_decision_query(spark, sf_dir))
    _no_python(t)
    assert "Join" not in t
    assert _n(t, "HashAggregate") >= 1
    assert "Window" in t


def test_cuped_and_did_single_rollup_shapes(spark, sf_dir):
    for q in (drift.cuped_uplift_query, drift.did_uplift_query):
        t = pi.tree(q(spark, sf_dir))
        _no_python(t)
        assert "CartesianProduct" not in t
        assert "SortMergeJoin" not in t
        assert _n(t, "HashAggregate") >= 2


def test_markov_iterations_stay_broadcast(spark, sf_dir):
    t = pi.tree(analytics.markov_stationary_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    # the corpus pays exactly one lag window; all 12 fixed-point
    # iterations join dimension-sized frames via broadcast — a single
    # SortMergeJoin here would mean an iteration shuffles per step
    assert "SortMergeJoin" not in t
    assert "BroadcastHashJoin" in t


def test_hill_window_is_source_partitioned(spark, sf_dir):
    t = pi.tree(lexstats.hill_tail_index_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    assert "Window" in t
    assert _n(t, "HashAggregate") >= 2


def test_psi_same_single_scan_shape_as_chi2(spark, sf_dir):
    t = pi.tree(dq.psi_drift_score_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    assert _n(t, "HashAggregate") >= 2


def test_burrows_top_head_and_broadcast_pairs(spark, sf_dir, pin_builds):
    df = lexstats.burrows_delta_query(spark, sf_dir)
    t = pi.tree(df)
    _no_python(t)
    assert "CartesianProduct" not in t
    # both pair-join sides read the PINNED z-panel (the corpus is
    # tokenized exactly once, inside the pin's build), and the join
    # itself broadcasts one side
    assert pin_builds.reads(df)  # pinned artifact read, not re-derived
    assert _n(t, "Generate") == 0
    assert "BroadcastHashJoin" in t


def test_attribution_single_window_pass(spark, sf_dir):
    from _kafka_streams_scaffold_spark.operators import analytics

    t = pi.tree(analytics.revenue_attribution_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    assert "SortMergeJoin" not in t
    assert "Window" in t


def test_ncc_confusion_broadcast_rollup(spark, sf_dir):
    from _kafka_streams_scaffold_spark.operators import similarity

    t = pi.tree(similarity.ncc_confusion_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    # the row-total join on the |labels|^2 grid must broadcast
    assert "BroadcastHashJoin" in t


def test_adamic_adar_rides_pinned_edges(spark, sf_dir, pin_builds):
    from _kafka_streams_scaffold_spark.operators import similarity

    df = similarity.adamic_adar_links_query(spark, sf_dir)
    t = pi.tree(df)
    _no_python(t)
    assert "CartesianProduct" not in t
    # both join sides read the pinned kNN edge list
    assert pin_builds.reads(df)  # pinned artifact read, not re-derived


def test_contrastive_collision_dimension_rollup(spark, sf_dir):
    from _kafka_streams_scaffold_spark.operators import clustering

    t = pi.tree(clustering.contrastive_collision_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    assert _n(t, "HashAggregate") >= 2


def test_audience_overlap_bounded_self_join(spark, sf_dir):
    from _kafka_streams_scaffold_spark.operators import analytics

    t = pi.tree(analytics.audience_overlap_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    # audience counts broadcast onto the |types|^2 grid
    assert "BroadcastHashJoin" in t


def test_token_entropy_two_shuffles(spark, sf_dir):
    t = pi.tree(lexstats.token_entropy_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    assert _n(t, "HashAggregate") >= 2


def test_qq_windows_partitioned_or_domain_sized(spark, sf_dir):
    t = pi.tree(inference.qq_shift_profile_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    # corpus reduced to the value-count grid before ANY window
    assert _n(t, "HashAggregate") >= 2
    assert "Window" in t


def test_logrank_single_user_rollup_then_spine(spark, sf_dir):
    t = pi.tree(inference.logrank_cohorts_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    assert "SortMergeJoin" not in t
    # conditional per-cohort counts on ONE shared day spine — never a
    # cohort self-join
    assert _n(t, "HashAggregate") >= 2
    assert "Window" in t


def test_smd_one_rollup_unpivot_no_big_join(spark, sf_dir):
    t = pi.tree(drift.smd_balance_audit_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    assert _n(t, "HashAggregate") >= 2


def test_littles_rides_pinned_segments(spark, sf_dir, pin_builds):
    from _kafka_streams_scaffold_spark.operators import analytics

    df = analytics.littles_law_audit_query(spark, sf_dir)
    t = pi.tree(df)
    _no_python(t)
    assert "CartesianProduct" not in t
    # both derivations read the pinned day segments
    assert pin_builds.reads(df)  # pinned artifact read, not re-derived


def test_binseg_two_spine_passes_no_big_join(spark, sf_dir):
    from _kafka_streams_scaffold_spark.operators import stats as stats_mod

    t = pi.tree(stats_mod.binseg_changepoints_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    assert "SortMergeJoin" not in t
    assert "Window" in t


def test_elasticity_single_scan_rollup(spark, sf_dir):
    from _kafka_streams_scaffold_spark.operators import trade

    t = pi.tree(trade.discount_elasticity_query(spark, sf_dir))
    _no_python(t)
    assert "Join" not in t
    assert _n(t, "HashAggregate") >= 1


def test_q_analog_plans(spark, sf_dir):
    from _kafka_streams_scaffold_spark.operators import trade

    # Q13: outer join preserved under double aggregation, no cartesian
    t = pi.tree(trade.cust_order_dist_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    assert _n(t, "HashAggregate") >= 2
    # Q14: numerator+denominator in ONE pass — a single join node,
    # never two scans of lineitem
    t = pi.tree(trade.promo_revenue_share_query(spark, sf_dir))
    _no_python(t)
    assert t.count("Scan parquet") <= 2
    # Q17: the per-part aggregate joins back broadcast
    t = pi.tree(trade.small_qty_revenue_query(spark, sf_dir))
    _no_python(t)
    assert "BroadcastHashJoin" in t
    assert "CartesianProduct" not in t
    # Q19: the OR-of-ANDs stays one Join + one Filter (no union of
    # three scans)
    t = pi.tree(trade.branded_basket_revenue_query(spark, sf_dir))
    _no_python(t)
    assert "Union" not in t
    assert t.count("Scan parquet") <= 2


def test_batch12_plans(spark, sf_dir):
    from _kafka_streams_scaffold_spark.operators import (
        analytics,
        similarity,
        trade,
    )

    # Davies-Bouldin: centroid table broadcast, pair work on the
    # |labels|^2 frame, one corpus scoring pass
    t = pi.tree(similarity.davies_bouldin_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    assert "BroadcastHashJoin" in t or "BroadcastNestedLoopJoin" in t
    # streaks: distinct rollup -> user-partitioned window -> rollups
    t = pi.tree(analytics.activity_streaks_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    assert "Window" in t
    # fulfillment lag: id-width join, CDF windows on the grid only
    t = pi.tree(trade.fulfillment_lag_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    assert _n(t, "HashAggregate") >= 2


def test_cell_gini_broadcast_rollup(spark, sf_dir):
    from _kafka_streams_scaffold_spark.operators import similarity

    t = pi.tree(similarity.cell_label_gini_query(spark, sf_dir))
    _no_python(t)
    assert "CartesianProduct" not in t
    assert "BroadcastHashJoin" in t

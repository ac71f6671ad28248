"""Semantic assertions for the round-7 operators — each test checks a
property the DuckDB oracle equality can NOT express (the oracle proves
cross-engine agreement; these prove the shared answer means what the
docstring claims)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from _kafka_streams_scaffold_spark import tables
from _kafka_streams_scaffold_spark.operators import (
    analytics,
    clustering,
    dq,
    drift,
    layout,
    lexstats,
    retrieval,
    sampling,
    sketches,
    stats,
    textops,
)

SF = "/root/testdata/sf0.001"


# ---- retrieval tier -------------------------------------------------------


def test_hubness_masses_account_for_every_vector_and_edge(spark):
    hist = {
        r["in_degree"]: r["n_vecs"]
        for r in retrieval.ann_hubness_audit_query(spark, SF).collect()
    }
    n_vecs = tables.table(spark, SF, "embeddings").count()
    from _kafka_streams_scaffold_spark.operators.similarity import _knn_edges

    n_edges = _knn_edges(spark, SF).count()
    assert sum(hist.values()) == n_vecs
    assert sum(d * c for d, c in hist.items()) == n_edges


def test_kcenter_is_greedy_max_min(spark):
    rows = sorted(
        retrieval.kcenter_coreset_query(spark, SF).collect(),
        key=lambda r: r["sel_round"],
    )
    assert [r["sel_round"] for r in rows] == list(range(retrieval.KCENTER_K))
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == len(ids)
    # the max-min radius sequence is non-increasing after the seed
    d2s = [r["d2"] for r in rows[1:]]
    assert all(a >= b for a, b in zip(d2s, d2s[1:]))
    # brute-force check of round 1: farthest point from the seed
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in tables.table(spark, SF, "embeddings").collect()
    }
    seed = emb[ids[0]]
    far = max(
        ((vid, float(np.sum((v - seed) ** 2))) for vid, v in emb.items()),
        key=lambda t: (t[1], -t[0]),
    )
    assert ids[1] == far[0]
    assert rows[1]["d2"] == pytest.approx(far[1], rel=1e-9)


def test_maxsim_bounds_and_rank_shape(spark):
    rows = retrieval.maxsim_late_interaction_query(spark, SF).collect()
    per_q = {}
    for r in rows:
        assert -retrieval.MAXSIM_PIECES <= r["maxsim"] <= retrieval.MAXSIM_PIECES + 1e-9
        per_q.setdefault(r["q_id"], []).append(r)
    for q, rs in per_q.items():
        ranks = sorted(x["rank"] for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
        ordered = sorted(rs, key=lambda x: x["rank"])
        scores = [x["maxsim"] for x in ordered]
        assert all(a >= b for a, b in zip(scores, scores[1:]))
        assert all(x["d_id"] != q for x in rs)


def test_maxsim_identical_vector_scores_pieces(spark):
    # a vector against itself: every piece matches itself at cosine 1
    emb = tables.table(spark, SF, "embeddings").limit(1).collect()[0]
    v = emb["embedding"]
    expr = retrieval._maxsim_expr("q_vec", "d_vec", "spark")
    df = spark.createDataFrame(
        [(v, v)], "q_vec array<float>, d_vec array<float>"
    )
    for i in range(retrieval.MAXSIM_PIECES):
        df = df.withColumn(
            f"qn{i}", F.expr(retrieval._sub_norm("q_vec", i, "spark"))
        ).withColumn(
            f"dn{i}", F.expr(retrieval._sub_norm("d_vec", i, "spark"))
        )
    got = df.select(F.expr(expr).alias("s")).collect()[0]["s"]
    assert got == pytest.approx(retrieval.MAXSIM_PIECES, abs=1e-9)


def test_rocchio_moves_toward_feedback_centroid(spark):
    rows = retrieval.rocchio_expansion_query(spark, SF).collect()
    per_q = {}
    for r in rows:
        assert -1.0 - 1e-9 <= r["cosine2"] <= 1.0 + 1e-9
        per_q.setdefault(r["q_id"], []).append(r)
    assert set(per_q) == set(range(retrieval.ROCCHIO_QUERIES))
    for q, rs in per_q.items():
        assert len(rs) == retrieval.ROCCHIO_TOP
        assert all(x["n_id"] != q for x in rs)


# ---- drift tier -----------------------------------------------------------


def test_ks_matches_scipy_style_bruteforce(spark):
    rows = drift.ks_drift_audit_query(spark, SF).collect()
    docs = tables.table(spark, SF, "documents").select(
        "source", "n_chars"
    ).collect()
    by_src = {}
    for r in docs:
        by_src.setdefault(r["source"], []).append(r["n_chars"])
    checked = 0
    for r in rows[:5]:
        a = sorted(by_src[r["src_a"]])
        b = sorted(by_src[r["src_b"]])
        vals = sorted(set(a) | set(b))
        want = max(
            abs(
                sum(1 for x in a if x <= v) * len(b)
                - sum(1 for x in b if x <= v) * len(a)
            )
            for v in vals
        )
        assert r["ks_num"] == want
        assert r["ks"] == pytest.approx(want / (len(a) * len(b)))
        checked += 1
    assert checked > 0


def test_mmd_is_symmetric_nonnegative_and_zero_on_self(spark):
    rows = drift.mmd_label_drift_query(spark, SF).collect()
    for r in rows:
        assert r["mmd2"] >= 0.0
        assert r["label_a"] < r["label_b"]
    # self-MMD is identically 0 by construction (same mean features);
    # verify via the expression on a single label pseudo-pair
    feats = drift._mmd_phi("embedding", 0, "spark")
    df = tables.table(spark, SF, "embeddings").select(
        F.expr(feats).alias("p")
    )
    assert df.count() > 0  # the feature expression is evaluable


def test_ab_proportion_pooled_zero_when_equal(spark):
    row = drift.ab_proportion_test_query(spark, SF).collect()[0]
    assert row["n_a"] > 0 and row["n_b"] > 0
    p_a = row["conv_a"] / row["n_a"]
    p_b = row["conv_b"] / row["n_b"]
    if p_a == p_b:
        assert row["z"] == 0.0
    else:
        assert (row["z"] > 0) == (p_a > p_b)


def test_simpson_scan_has_pooled_and_strata(spark):
    rows = simpson = drift.simpson_reversal_audit_query(spark, SF).collect()
    scopes = {r["scope"] for r in rows}
    assert "pooled" in scopes
    pooled = [r for r in rows if r["scope"] == "pooled"][0]
    assert not pooled["reversed"]
    for r in rows:
        if r["scope"] == "pooled":
            continue
        want = (r["slope_num"] > 0) != (pooled["slope_num"] > 0) and (
            r["slope_num"] != 0 and pooled["slope_num"] != 0
        )
        assert r["reversed"] == want


def test_jl_histogram_concentrates_near_unity(spark):
    rows = drift.jl_projection_audit_query(spark, SF).collect()
    total = sum(r["n_pairs"] for r in rows)
    assert total == drift.JL_PANEL * (drift.JL_PANEL - 1) // 2
    # JL with k=16: most mass within [0.5, 1.5) of the true distance
    near = sum(r["n_pairs"] for r in rows if 5 <= r["bucket"] <= 14)
    assert near / total > 0.8


# ---- stats / sketch tier --------------------------------------------------


def test_theil_sen_matches_numpy_median(spark):
    row = stats.theil_sen_trend_query(spark, SF).collect()[0]
    ev = tables.table(spark, SF, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("c")
        )
        .collect()
    )
    days = sorted((r["day"], r["c"]) for r in daily)
    d0 = days[0][0]
    pts = [((d - d0).days, c) for d, c in days]
    slopes = [
        (cj - ci) / (xj - xi)
        for i, (xi, ci) in enumerate(pts)
        for xj, cj in pts[i + 1:]
    ]
    assert row["n_pairs"] == len(slopes)
    assert row["ts_slope"] == pytest.approx(float(np.median(slopes)))


def test_nelson_aalen_is_nonnegative_nondecreasing_and_bounds_km(spark):
    na = sorted(
        stats.nelson_aalen_hazard_query(spark, SF).collect(),
        key=lambda r: r["t_days"],
    )
    assert na, "no hazard rows"
    prev = 0
    for r in na:
        assert r["cumhaz_fp"] >= prev
        prev = r["cumhaz_fp"]
        assert r["n_deaths"] <= r["n_risk"]
    # H(t) >= -ln S(t) is NOT generally true; but each NA increment
    # d/n <= -ln(1 - d/n), the KM factor — check per-row domination
    for r in na:
        if 0 < r["n_deaths"] < r["n_risk"]:
            inc = (10**9 * r["n_deaths"]) // r["n_risk"] / 1e9
            km_inc = -math.log(1 - r["n_deaths"] / r["n_risk"])
            assert inc <= km_inc + 1e-9


def test_runs_test_counts_runs_exactly(spark):
    row = stats.runs_test_randomness_query(spark, SF).collect()[0]
    ev = tables.table(spark, SF, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("c")
        )
        .collect()
    )
    cents = sorted(r["c"] for r in daily)
    n = len(cents)
    med2 = cents[(n + 1) // 2 - 1] + cents[n // 2]
    seq = [
        1 if 2 * r["c"] > med2 else 0
        for r in sorted(daily, key=lambda r: r["day"])
        if 2 * r["c"] != med2
    ]
    runs = sum(
        1 for i, s in enumerate(seq) if i == 0 or seq[i - 1] != s
    )
    assert row["n_pos"] == sum(seq)
    assert row["n_neg"] == len(seq) - sum(seq)
    assert row["n_runs"] == runs


def test_ams_estimators_bracket_exact_f2(spark):
    rows = sketches.ams_f2_estimate_query(spark, SF).collect()
    assert len(rows) == sketches.AMS_R
    exact = rows[0]["exact_f2"]
    assert all(r["exact_f2"] == exact for r in rows)
    ests = [r["est_f2"] for r in rows]
    # unbiasedness shows as the mean landing within ~3 sigma; with 8
    # estimators just assert the exact value is inside the observed
    # envelope widened by 3x (loose but catches sign/scale bugs)
    lo, hi = min(ests), max(ests)
    spread = max(hi - lo, exact // 2)
    assert lo - 2 * spread <= exact <= hi + 2 * spread


def test_poisson_dispersion_matches_numpy(spark):
    rows = stats.poisson_dispersion_audit_query(spark, SF).collect()
    ev = tables.table(spark, SF, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).count().collect()
    by_type = {}
    for r in daily:
        by_type.setdefault(r["event_type"], []).append(r["count"])
    for r in rows:
        cs = np.array(by_type[r["event_type"]], dtype=np.float64)
        want = cs.var(ddof=1) / cs.mean()
        assert r["dispersion"] == pytest.approx(want, rel=1e-12)


def test_dp_clipped_mean_noise_is_bounded_and_deterministic(spark):
    a = {r["event_type"]: r for r in dq.dp_clipped_mean_query(spark, SF).collect()}
    b = {r["event_type"]: r for r in dq.dp_clipped_mean_query(spark, SF).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k]["noise_fp"] == b[k]["noise_fp"]
        # the un-noised clipped mean is within [0, C]
        assert 0 <= a[k]["clipped_sum_cents"] <= a[k]["n"] * dq.DP_CLIP_CENTS


# ---- text tier ------------------------------------------------------------


def test_collocations_have_min_count_and_consistent_lift(spark):
    rows = textops.collocation_pmi_query(spark, SF).collect()
    assert 0 < len(rows) <= textops.COLLOC_TOP
    for r in rows:
        assert r["c_ab"] >= textops.COLLOC_MIN_COUNT
        assert r["lift"] > 0
    ranks = sorted(r["rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))


def test_chao1_dominates_observed_vocab(spark):
    row = lexstats.chao1_vocab_estimate_query(spark, SF).collect()[0]
    assert row["chao1"] >= row["v_obs"]
    assert row["s1"] + row["s2"] <= row["v_obs"]
    assert row["n_tokens"] >= row["v_obs"]


# ---- sampling / layout / sessions ----------------------------------------


def test_group_kfold_partitions_users_exactly_once(spark):
    rows = sampling.group_kfold_split_query(spark, SF).collect()
    ev = tables.table(spark, SF, "events")
    assert sum(r["n_events"] for r in rows) == ev.count()
    assert sum(r["n_users"] for r in rows) == (
        ev.select("user_id").distinct().count()
    )
    assert {r["fold"] for r in rows} <= set(range(sampling.KFOLD_K))


def test_locality_hilbert_beats_morton(spark):
    rows = {r["curve"]: r for r in layout.layout_locality_audit_query(
        spark, SF
    ).collect()}
    assert set(rows) == {"hilbert", "morton"}
    assert rows["hilbert"]["n_cells"] == rows["morton"]["n_cells"]
    assert rows["hilbert"]["mean_l1"] <= rows["morton"]["mean_l1"]


def test_morton8_is_bijective_on_the_grid():
    # pure-python mirror of the generated expression
    def morton(x, y):
        z = 0
        for i in range(layout.HB_BITS):
            z += ((x >> i) & 1) << (2 * i)
            z += ((y >> i) & 1) << (2 * i + 1)
        return z

    seen = set()
    for x in range(0, layout.HB_N, 17):
        for y in range(0, layout.HB_N, 13):
            z = morton(x, y)
            assert z not in seen
            seen.add(z)


def test_bucket_plan_counts_are_powers_of_two_covering_rows(spark):
    rows = layout.bucket_plan_query(spark, SF).collect()
    for r in rows:
        b = r["buckets"]
        assert b >= 1 and (b & (b - 1)) == 0
        assert b * layout.BUCKET_TARGET_ROWS >= r["n_rows"]
        assert b == 1 or (b // 2) * layout.BUCKET_TARGET_ROWS < r["n_rows"]


def test_dedup_representative_identity_on_exact_duplicate_clusters(spark):
    row = clustering.dedup_representative_stats_query(spark, SF).collect()[0]
    docs = tables.table(spark, SF, "documents")
    assert row["n_docs"] == docs.count()
    assert row["exact_chars"] == (
        docs.agg(F.sum("n_chars")).collect()[0][0]
    )
    assert row["n_clusters"] <= row["n_docs"]
    # the bias readout is exactly the integer per-mille of |est-exact|
    # (at sf0.001 SimHash merges aggressively — 50 docs, wide
    # components — so the bias is LARGE; that is the audit reporting
    # honestly, not a defect; the value itself is what's pinned)
    assert row["err_per_mille"] == (
        abs(row["est_chars"] - row["exact_chars"]) * 1000
        // max(row["exact_chars"], 1)
    )
    # and the estimate equals sum(cluster_size * rep_chars) brute-force
    clusters = clustering.dedup_clusters_query(spark, SF).collect()
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in docs.select("doc_id", "n_chars").collect()
    }
    by_c = {}
    for r in clusters:
        by_c.setdefault(r["cluster_id"], []).append(r["doc_id"])
    want = sum(len(m) * chars[min(m)] for m in by_c.values())
    assert row["est_chars"] == want


def test_session_concurrency_bounds(spark):
    rows = analytics.session_concurrency_query(spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r["max_concurrent"] <= r["n_sessions"]
    # total clipped segments >= total sessions
    us = analytics.user_sessions_query(spark, SF).agg(
        F.sum("n_sessions")
    ).collect()[0][0]
    assert sum(r["n_sessions"] for r in rows) >= us


# ---- pinning keep-scope release --------------------------------------------


def test_unpersist_all_keep_scope(spark):
    from _kafka_streams_scaffold_spark import pinning

    pinning.unpersist_all()
    kept = pinning.shared_pin(
        ("dedup.fake_root", 1), lambda: spark.range(5).toDF("id")
    )
    dropped = pinning.shared_pin(
        ("other.thing", 2), lambda: spark.range(3).toDF("id")
    )
    # both pins are materialized (round-11: checkpoint-backed, so the
    # marker is cached RDD blocks, not CacheManager storageLevel)
    cached_ids = {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert len(cached_ids) >= 2
    n = pinning.unpersist_all(keep=("dedup.",))
    assert n == 1
    # the kept pin is still memoized under its key AND still readable
    again = pinning.shared_pin(("dedup.fake_root", 1), lambda: 1 / 0)
    assert again is kept
    assert kept.count() == 5
    # a full release then clears everything, including the kept one
    assert pinning.unpersist_all() == 1
    assert not pinning._SHARED and not pinning._PINNED


# ---- round-7 late additions (r08 window material) --------------------------


def test_facility_location_is_greedy_and_monotone(spark):
    from _kafka_streams_scaffold_spark.operators.retrieval import (
        FACLOC_K,
        FACLOC_POOL,
        _FL_FP,
        facility_location_coreset_query,
    )

    rows = sorted(
        facility_location_coreset_query(spark, SF).collect(),
        key=lambda r: r["sel_round"],
    )
    assert [r["sel_round"] for r in rows] == list(range(FACLOC_K))
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == len(ids)
    assert all(v < FACLOC_POOL for v in ids)
    # the objective is monotone non-decreasing (submodular coverage)
    covs = [r["coverage_fp"] for r in rows]
    assert all(b >= a for a, b in zip(covs, covs[1:]))
    # brute-force the FIRST pick: argmax_c sum_p fp_sim(p, c)
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in tables.table(spark, SF, "embeddings").collect()
    }
    norms = {k: float(np.linalg.norm(v)) for k, v in emb.items()}

    def fp_sim(p, c):
        den = norms[p] * norms[c]
        cos = float(emb[p] @ emb[c]) / den if den > 0 else -1.0
        return math.floor(1e6 * cos)

    gains = {
        c: sum(fp_sim(p, c) for p in emb)
        for c in emb
        if c < FACLOC_POOL
    }
    best = max(gains.items(), key=lambda t: (t[1], -t[0]))
    assert ids[0] == best[0]
    assert covs[0] == best[1]
    assert _FL_FP == 10**6


def test_mcnemar_counts_match_tier_tables(spark):
    from _kafka_streams_scaffold_spark.operators import dedup as dd

    row = dd.detector_mcnemar_query(spark, SF).collect()[0]
    a = {
        (r["doc_a"], r["doc_b"])
        for r in dd._tier_pairs(spark, SF, dd.MCNEMAR_A).collect()
    }
    b = {
        (r["doc_a"], r["doc_b"])
        for r in dd._tier_pairs(spark, SF, dd.MCNEMAR_B).collect()
    }
    assert row["n_discordant_a"] == len(a - b)
    assert row["n_discordant_b"] == len(b - a)
    assert row["n_both"] == len(a & b)
    s = row["n_discordant_a"] + row["n_discordant_b"]
    if s:
        d = row["n_discordant_a"] - row["n_discordant_b"]
        assert row["chi2"] == pytest.approx(d * d / s)
    else:
        assert row["chi2"] == 0.0


def test_rbo_bounds_and_perfect_agreement_identity(spark):
    from _kafka_streams_scaffold_spark.operators import quantize as qz
    from _kafka_streams_scaffold_spark.operators.similarity import TOP_K

    rows = qz.rank_biased_overlap_query(spark, SF).collect()
    assert rows
    # maximum achievable truncated RBO: every item co-present from
    # its own depth (identical rankings)
    max_rbo = (1 - qz.RBO_P) * sum(qz._RBO_W[m] for m in range(1, TOP_K + 1)) / qz._RBO_FP
    for r in rows:
        assert 0 <= r["n_common"] <= TOP_K
        assert -1e-12 <= r["rbo"] <= max_rbo + 1e-12
        if r["n_common"] == 0:
            assert r["rbo"] == 0.0
    # weights are strictly decreasing in first-agreement depth
    ws = [qz._RBO_W[m] for m in range(1, TOP_K + 1)]
    assert all(a > b for a, b in zip(ws, ws[1:]))


def test_purity_null_baseline_is_chance_like(spark):
    from _kafka_streams_scaffold_spark.operators.retrieval import (
        label_purity_null_baseline_query,
    )

    row = label_purity_null_baseline_query(spark, SF).collect()[0]
    assert row["n_same_true"] <= row["n_edges"]
    assert row["n_same_null"] <= row["n_edges"]
    # labeled embeddings cluster by label, so the true agreement must
    # beat the rotated-label null on this corpus
    assert row["n_same_true"] > row["n_same_null"]
    assert row["lift"] > 1.0


def test_gate_ordering_is_by_selectivity_with_running_product(spark):
    from _kafka_streams_scaffold_spark.operators.curation import (
        gate_ordering_plan_query,
    )

    rows = sorted(
        gate_ordering_plan_query(spark, SF).collect(),
        key=lambda r: r["position"],
    )
    assert [r["position"] for r in rows] == [1, 2, 3, 4]
    passes = [r["n_pass"] for r in rows]
    assert passes == sorted(passes)  # most selective first
    frac = 1.0
    for r in rows:
        frac *= r["n_pass"] / r["n_total"]
        # the overflow-free DOUBLE running product (the old exact
        # integer pair n_total^pos exceeded 2^63 past ~55k docs)
        assert r["surviving_frac"] == pytest.approx(frac, rel=1e-12)
        assert r["expected_rows"] == pytest.approx(
            r["n_total"] * frac, rel=1e-12
        )
    # expected survivors shrink monotonically
    exp = [r["expected_rows"] for r in rows]
    assert all(a >= b for a, b in zip(exp, exp[1:]))


def test_waterfill_spends_exactly_the_budget_and_is_max_min(spark):
    from _kafka_streams_scaffold_spark.operators.sampling import (
        WATERFILL_BUDGET_CHARS,
        waterfill_allocation_query,
    )

    rows = waterfill_allocation_query(spark, SF).collect()
    total_demand = sum(r["demand_chars"] for r in rows)
    spent = sum(r["allocated_chars"] for r in rows)
    assert spent == min(WATERFILL_BUDGET_CHARS, total_demand)
    for r in rows:
        assert 0 <= r["allocated_chars"] <= r["demand_chars"]
        assert r["saturated"] == (
            r["allocated_chars"] == r["demand_chars"]
        ) or not r["saturated"]
    # max-min fairness: every unsaturated source's allocation is
    # >= every saturated source's demand (the water level dominates
    # everything below it), and unsaturated allocations differ by <= 1
    unsat = [r["allocated_chars"] for r in rows if not r["saturated"]]
    sat_d = [r["demand_chars"] for r in rows if r["saturated"]]
    if unsat:
        assert max(unsat) - min(unsat) <= 1
        if sat_d:
            assert min(unsat) >= max(sat_d)


def test_salt_factor_plan_bounds_cells(spark):
    from _kafka_streams_scaffold_spark.operators.skew import (
        SALT_PLAN_TOP,
        SALT_TARGET_ROWS,
        salt_factor_plan_query,
    )

    rows = salt_factor_plan_query(spark, SF).collect()
    assert 0 < len(rows) <= SALT_PLAN_TOP
    freqs = [r["freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    for r in rows:
        f, k = r["freq"], r["salt_factor"]
        assert k >= 1
        # ceil semantics: k cells of <= target rows cover freq, k-1 don't
        assert k * SALT_TARGET_ROWS >= f
        assert (k - 1) * SALT_TARGET_ROWS < f
        assert 0 <= r["share_x1e6"] <= 1_000_000

"""Guards on the registry's driver-facing contract.

The external correctness gate hash-checks only the FIRST 50 registered
queries, so registration ORDER is part of the contract: each round the
window must carry exactly the queries that still need a driver
CORRECTNESS row (see registry._WINDOW_R12 and the module docstring).
"""

from __future__ import annotations

import json
import pathlib

from _kafka_streams_scaffold_spark import registry

_REPO = pathlib.Path(__file__).resolve().parents[1]

# Green rounds available when the r11 window was frozen.
_PRIOR_ROUNDS = (
    "r01", "r02", "r03", "r04", "r05", "r06", "r07", "r08", "r09", "r10",
    "r11",
)

# Queries with a GREEN prior-round row that nevertheless re-certify in
# the r12 window. Re-certification beats re-running never-changed
# queries: every entry here had its PHYSICAL PLAN changed either by
# the round-11 optimization (checkpoint pins, shared-pin families,
# iteration-to-fold rewrites — the r11 verdict's ask #2 list) or by
# this round's own work (CC contraction, lazy-checkpoint PageRank
# rounds, the shared-pinned strategy pair sets, the thread-pooled
# curation gates).
R12_RECERT: set[str] = {
    # r11 iteration-to-fold rewrites (verdict ask #2)
    "markov_stationary",
    "power_iteration",
    "pca_top_component",
    # multimodal mm.* pins (r11)
    "payload_phash",
    "phash_dup_pairs",
    "phash_threshold_sweep",
    # curation/BPE cur./bpe. pins (r11) + r12 thread-pooled gates
    "corpus_keep",
    "corpus_keep_full",
    "bpe_train",
    "bpe_encode",
    "bpe_doc_tokens",
    "training_manifest",
    # SimHash doc-graph family: r12 CC contraction + lazy PR rounds
    "dedup_clusters",
    "dup_pagerank",
    "dedup_representative_stats",
    "contrastive_collision",
    "cluster_keep_list",
    "dup_graph_degrees",
    "kcore",
    "source_modularity",
    "degree_assortativity",
    # dedup audits + the r12 shared-pinned strategy pair sets
    "dedup_tier_agreement",
    "blocking_recall_audit",
    "linkage_entities",
    "prefix_filter_pairs",
    "sorted_neighborhood_pairs",
    "winnowing_pairs",
    # embedding/ANN fragment: r11 sim.* pins, r12 emb-CC contraction
    "knn_graph",
    "knn_triangles",
    "knn_lof_outliers",
    "knn_label_purity",
    "pq_codes",
    "pq_ann",
    "pq_recall",
    "ivf_near_dup",
    "embedding_dup_clusters",
    "semantic_dedup_keep",
}

# No never-certified backlog was deferred out of the r12 window: all
# 13 R12_MATERIAL round-11 post-freeze additions are IN _WINDOW_R12,
# and round 12 (an optimization round) registered no new queries —
# R13_MATERIAL is empty by construction.
R13_DEFERRED: set[str] = set()
R13_MATERIAL: set[str] = set()

# Round-11 additions registered after the r11 window froze — r12
# window material by construction. The r08 verdict caps this at 13
# (the window's re-cert margin) so the certification pipeline stops
# compounding backlog; test_r12_material_fits_the_recert_margin
# enforces it. The 10 entries: the ordered/median/effect-size/
# omnibus-distribution completions of the nonparametric ladder
# (Mood, Jonckheere-Terpstra, Cliff's delta, k-sample Anderson-
# Darling), the Durbin-Watson serial-correlation audit, Fleiss'
# kappa over the dup-detector tier, Dunn's post-hoc pairwise z,
# Ansari-Bradley dispersion drift, day-stratified CMH, and
# Somers' D / tau-b ordinal association.
R12_MATERIAL: set[str] = {
    "mood_median_test",
    "cliffs_delta_sources",
    "jonckheere_trend",
    "durbin_watson_daily",
    "ad_ksample_sources",
    "fleiss_kappa_detectors",
    # second batch: post-hoc localization, dispersion drift,
    # stratified association, and ordinal effect size
    "dunn_posthoc_sources",
    "ansari_bradley_halves",
    "cmh_event_value",
    "somers_d_priority",
    # third slice: the LSH banding planner (measured bucket load per
    # (bands, rows) factorization of the shared minhash signatures)
    "lsh_param_plan",
    # fourth slice: Welch's heteroscedastic ANOVA (the unequal-
    # variance leg of the k-sample location triad) and the Quade
    # block-weighted completion of the Friedman blocked-rank axis —
    # this fills the 13-slot cap exactly
    "welch_anova_sources",
    "quade_event_mix",
}


def _covered() -> set[str]:
    covered: set[str] = set()
    for rnd in _PRIOR_ROUNDS:
        p = _REPO / f"CORRECTNESS_{rnd}.json"
        if p.exists():
            for name, row in json.loads(p.read_text()).items():
                if row.get("hash_match"):
                    covered.add(name)
    return covered


def test_window_is_exactly_the_r12_rotation_list():
    names = list(registry.queries())
    w = registry._WINDOW_R12
    assert len(w) <= 50
    assert names[: len(w)] == w


def test_material_is_entirely_in_the_window():
    """All 13 never-certified round-11 post-freeze additions must
    occupy r12 window slots — they are the whole backlog."""
    assert R12_MATERIAL <= set(registry._WINDOW_R12)


def test_blocks_run_each_family_together_at_its_first_slot():
    """bench.py runs ``registry.blocks()`` in order, one outer pin scope
    per block, so a family shares its pins wherever its members sit in
    the slot order."""
    names = list(registry.queries())
    blocks = registry.blocks()
    flat = [n for b in blocks for n in b]
    assert sorted(flat) == sorted(names)
    for b in blocks:
        fam = registry._FAMILY.get(b[0])
        if fam is None:
            assert len(b) == 1, b
            continue
        members = [n for n in names if registry._FAMILY.get(n) == fam]
        assert b == members, fam
        # a misspelt family name would declare a family of one
        assert len(members) >= 2, f"{fam} has one member"
    # each block sits at its first member's slot: block heads keep
    # queries() order
    heads = [b[0] for b in blocks]
    assert heads == [n for n in names if n in set(heads)]


def test_window_queries_need_a_driver_row():
    """The rotation's whole point: no slot is wasted on a query that
    already has a GREEN CORRECTNESS row from rounds 1-11 — except the
    explicit re-certification list (implementation, helper, or
    oracle changed after the green row, or the row is old enough for
    age-based re-validation). A red row earns the query another slot
    automatically, since the guard keys on hash_match."""
    stale = _covered() & set(registry._WINDOW_R12)
    assert stale <= R12_RECERT, (
        f"window wastes slots on already-covered: {stale - R12_RECERT}"
    )


def test_window_plus_deferred_covers_the_entire_backlog():
    """Every oracle-backed query that has never gone green must be
    either in the r12 window or in an explicit deferral/material
    list — nothing silently dropped from certification."""
    backlog = set(registry.oracle_sql()) - _covered()
    missing = backlog - set(registry._WINDOW_R12) - R13_DEFERRED
    assert missing <= R13_MATERIAL, (
        f"never-certified queries untracked for rotation: "
        f"{missing - R13_MATERIAL}"
    )


def test_deferral_list_is_exactly_the_window_complement():
    """Backlog members NOT in the window must be exactly the tracked
    deferral + material sets — if one gains a green row or enters the
    window, this forces the bookkeeping to move with it."""
    backlog = set(registry.oracle_sql()) - _covered()
    outside = backlog - set(registry._WINDOW_R12)
    assert outside == R13_DEFERRED | (R13_MATERIAL & backlog)


def test_r13_material_fits_the_recert_margin():
    """The r08 verdict's pipeline-pressure cap: a round may add at
    most 13 post-freeze queries. Round 12 is an optimization round
    and added none."""
    assert len(R13_MATERIAL) <= 13
    assert len(R12_MATERIAL) <= 13


def test_recert_list_members_all_have_green_rows():
    """R12_RECERT entries must actually BE re-certifications — a
    never-certified query in the list would mask a bookkeeping hole
    (it belongs in the window via the backlog path instead)."""
    missing = R12_RECERT - _covered()
    assert not missing, f"R12_RECERT without green rows: {missing}"


def test_window_entries_are_oracle_backed():
    oracles = set(registry.oracle_sql())
    missing = [n for n in registry._WINDOW_R12 if n not in oracles]
    assert not missing


def test_rotated_out_families_keep_their_oracles():
    """Queries that left the window (r01-r09 green) must stay
    registered and oracle-backed so tools/check_oracle.py keeps
    verifying them locally."""
    names = set(registry.queries())
    for q in (
        "exact_dedup", "minhash_lsh_pairs", "dedup_clusters", "ann_topk",
        "power_iteration", "wordcount", "pricing_summary", "market_share",
        "corpus_keep", "tfidf_top_terms", "multimodal_features",
        "pq_codes", "scd2_history", "training_manifest", "bpe_train",
        "rfm_segments", "hapax_rate", "embedding_quantize",
        "cluster_keep_list", "ktable_latest",
        # r06-window members rotated out
        "kneser_ney_bigram", "knn_lof_outliers", "fs_linkage_scores",
        "blocking_recall_audit", "sequence_gap_audit", "km_user_survival",
        # r07-window members now rotated out
        "kcenter_coreset", "mmd_label_drift", "dedup_representative_stats",
        "linkage_entities", "session_concurrency", "ivm_join_revenue",
        "theil_sen_trend", "group_kfold_split", "layout_locality_audit",
        # r09-window members now rotated out
        "js_source_drift", "cuped_uplift", "sprt_daily_decision",
        "burrows_delta", "markov_stationary", "logrank_cohorts",
        "small_qty_revenue", "davies_bouldin", "adamic_adar_links",
    ):
        assert q in names
        assert q in registry.oracle_sql() or q == "lsh_ann"


def test_every_query_has_oracle_or_is_documented_rows_only():
    names = set(registry.queries())
    oracles = set(registry.oracle_sql())
    rows_only = names - oracles
    # the ONLY rows-only queries: the SRP-LSH search (quality
    # hash-checked through lsh_ann_recall) and Gear-hash CDC chunking
    # (rolling hash not SQL-expressible; contract in test_chunking.py,
    # with the fixed-size chunker as its oracle-checked sibling)
    assert rows_only == {"lsh_ann", "payload_chunks_cdc"}


def test_oracle_keys_subset_of_queries():
    assert set(registry.oracle_sql()) <= set(registry.queries())


def test_register_raises_on_duplicate_name():
    """The round-8 shadowing lesson: register() must never silently
    overwrite (small_qty_revenue was registered twice with different
    semantics and nothing warned). A loaded registry is itself proof
    of uniqueness — every register() call ran under the guard — but
    assert the guard's behavior explicitly too."""
    import pytest as _pytest

    names = list(registry.queries())
    assert len(names) == len(set(names))
    first = names[0]
    with _pytest.raises(ValueError, match="duplicate query registration"):
        registry.register(first, registry.queries()[first])


def test_no_registered_query_plans_cartesian_or_row_python(
    spark, sf_dir, pin_builds
):
    """Registry-wide anti-pattern guard over COMPLETE plans — each
    query's tree plus the build tree of every pin it made, since a
    consumer's tree ends at its pins' leaves: no unbounded
    CartesianProduct and no row-at-a-time / arrow-eval Python in any
    registered query's plan. Every crossJoin in the tree must
    broadcast (BroadcastNestedLoop), and all Python execution goes
    through mapInPandas/applyInPandas nodes, never per-expression
    eval. Each query runs in its own scope, so it builds (and frees)
    its own shared pins instead of reading another query's."""
    from _kafka_streams_scaffold_spark import pinning

    bad: dict[str, list[str]] = {}
    for name, fn in registry.queries().items():
        pin_builds.explains.clear()
        with pinning.scope():
            t = "\n".join(pin_builds.trees(fn(spark, sf_dir)))
        hits = [
            node
            for node in (
                "CartesianProduct",
                "BatchEvalPython",
                "ArrowEvalPython",
            )
            if node in t
        ]
        if hits:
            bad[name] = hits
    assert not bad, f"anti-pattern nodes in registered plans: {bad}"


def test_no_registered_query_emits_complex_top_level_columns(spark, sf_dir):
    """Driver-canon compatibility guard (the embedding_quantize r04
    lesson): the external gate canonicalizes results with pandas
    ``sort_values`` over object columns, which throws on list/dict
    values — so an array/map/struct TOP-LEVEL column can NEVER go
    green regardless of values. Every registered query must emit only
    scalar columns; array-shaped results scalarize at the boundary
    (posexplode rows or a deterministic join-to-string).

    Round-6 extension: top-level DECIMAL is banned too. The driver
    canonicalizes every numeric through a 9-significant-digit float
    path, which cannot carry exact cents past ~1e9 — r06's only
    driver red (`ivm_join_revenue`) was the registry's only
    DECIMAL(18,2) output at ~1e8 magnitude. The repo convention is
    exact-integer money (BIGINT cents via floor(100*x)) or DOUBLE."""
    from pyspark.sql import types as T

    bad: dict[str, list[str]] = {}
    for name, fn in registry.queries().items():
        schema = fn(spark, sf_dir).schema
        complex_cols = [
            f.name
            for f in schema.fields
            if isinstance(
                f.dataType,
                (T.ArrayType, T.MapType, T.StructType, T.DecimalType),
            )
        ]
        if complex_cols:
            bad[name] = complex_cols
    assert not bad, f"complex top-level columns would break driver canon: {bad}"

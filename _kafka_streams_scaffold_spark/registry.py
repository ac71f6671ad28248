'''Central query registry: every implemented operator from SURVEY.md §2
(plus the beyond-reference training-data ops) gets

- a ``queries()`` entry: ``name -> (spark, sf_dir) -> DataFrame``
- where SQL-expressible, an ``oracle_sql()`` entry: equivalent DuckDB
  SQL over the same parquet tables (views pre-registered by the driver).

Column names are aliased identically on both sides — the driver's
compare sorts columns by name before hashing values.

REGISTRATION ORDER IS LOAD-BEARING: the driver's correctness gate
hash-checks the FIRST 50 registered queries each round, so the window
rotates each round toward queries that have never had a driver
CORRECTNESS row. Earlier windows live in git history and in the
CORRECTNESS_r*.json rows they produced.

Run order is stated once: ``_apply_window`` puts the window's names in
slots 0-49 and every other query follows in registration order, so the
``register()`` calls in ``_ensure_loaded`` appear in slot order.

SHARED-PIN FAMILIES are declared in the same place: each query that
reads a family's ``pinning.shared_pin`` roots says so with
``register(..., family=...)``. ``blocks()`` turns the declaration into
run order: all of a family's members run together at its first
member's slot, so bench.py opens one outer ``pinning.scope()`` per
family and every shared pin a member builds is warm for the rest of
the family. Slot order plays no part in pin reuse.

- r12 window (``_WINDOW_R12`` below): CORRECTNESS_r11 went 50/50
  green, so the window is the 13 R12_MATERIAL round-11 post-freeze
  additions (the complete never-certified backlog) + 37 re-certs
  chosen by the r11 verdict's ask #2 (plan-changed-in-r11 but not
  driver-certified: the three iteration folds, the kNN/PQ ladders,
  the curation/BPE and multimodal pins) and this round's own touches
  (CC contraction -> the whole doc-graph family + linkage; the
  shared-pinned strategy pair sets + both audits).

NEXT ROTATION (round 13): no post-freeze additions exist this round
(optimization rounds add no queries — R13_MATERIAL is empty), so the
window is free for any r12 reds, the stale set from a fresh
``tools/stale_cert_audit.py`` run, manual re-certs for helper-level
changes the audit cannot see, and age-based fills (oldest green rows
first: the remaining r03 rows, label_centroids onward
alphabetically) up to 50. The r12-uncertified embedding-chain
members that r11 changed but this window could not fit
(pq_ann_rerank, ann_rank_fusion, mrr_audit, the recall ladder,
dyn_ivf_assign, adamic_adar_links, local_clustering_coeff,
ann_hubness_audit, label_purity_null_baseline, twonn_intrinsic_dim,
ivf_assign and the cell audits) are the highest-value re-cert picks.
Update tests/test_registry_window.py in the same commit as the
freeze.
'''

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
_FAMILY: dict[str, str] = {}


def register(
    name: str,
    fn: QueryFn,
    oracle: str | None = None,
    *,
    family: str | None = None,
    replace: bool = False,
) -> None:
    """Register a query (and optionally its DuckDB oracle) under ``name``.

    ``family`` names the shared-pin family the query belongs to: the
    family's members run as one block (``blocks()``) and read each
    other's shared pins warm.

    Duplicate names RAISE: last-write-wins silently shadowed the
    long-certified ``small_qty_revenue`` in round 8 (two different Q17
    variants under one name — historical CORRECTNESS/bench rows then
    referred to a different computation). Pass ``replace=True`` only
    for a deliberate, documented re-registration.
    """
    if name in _QUERIES and not replace:
        raise ValueError(
            f"duplicate query registration {name!r}; pass replace=True "
            "for a deliberate re-registration"
        )
    _QUERIES[name] = fn
    if oracle is not None:
        _ORACLES[name] = oracle
    if family is not None:
        _FAMILY[name] = family


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return dict(_ORACLES)


def blocks() -> list[list[str]]:
    """Run order as blocks of query names: each family's members sit
    together at its first member's slot, in registration order; every
    other query is a block of its own. ``queries()`` order is
    unchanged."""
    _ensure_loaded()
    out: dict[tuple[str, str], list[str]] = {}
    for name in _QUERIES:
        fam = _FAMILY.get(name)
        key = ("family", fam) if fam else ("query", name)
        out.setdefault(key, []).append(name)
    return list(out.values())


_LOADED = False

# Correctness window for round 12 (slots 0..49) — see the module
# docstring.
_WINDOW_R12 = [
    # --- never-certified backlog: the 13 R12_MATERIAL round-11
    # post-freeze additions (nonparametric/association ladder + the
    # two dedup-audit chain members listed in the dedup block below)
    "mood_median_test",
    "cliffs_delta_sources",
    "jonckheere_trend",
    "durbin_watson_daily",
    "ad_ksample_sources",
    "dunn_posthoc_sources",
    "ansari_bradley_halves",
    "cmh_event_value",
    "somers_d_priority",
    "welch_anova_sources",
    "quade_event_mix",
    # --- r11-optimization re-certs: the three iteration-to-fold
    # rewrites had no driver row on their new plans (r11 verdict ask
    # #2 — top priority of this rotation)
    "markov_stationary",
    "power_iteration",
    "pca_top_component",
    # --- multimodal family, whole (r11 mm.phash shared pins)
    "payload_phash",
    "phash_dup_pairs",
    "phash_threshold_sweep",
    # --- curation/BPE family, whole + corpus_keep (r11 cur./bpe.
    # pins + the round-12 thread-pooled gate builds)
    "corpus_keep",
    "corpus_keep_full",
    "bpe_train",
    "bpe_encode",
    "bpe_doc_tokens",
    "training_manifest",
    # --- SimHash doc-graph family, whole (round-12 CC contraction +
    # lazy-checkpoint PageRank rounds touch every member's shared
    # roots)
    "dedup_clusters",
    "dup_pagerank",
    "dedup_representative_stats",
    "contrastive_collision",
    "cluster_keep_list",
    "dup_graph_degrees",
    "kcore",
    "source_modularity",
    "degree_assortativity",
    # --- dedup audit/pairs fragment: the two R12_MATERIAL chain
    # members, the two round-12-touched audits, linkage (CC engine
    # change) and the three newly shared-pinned strategy pair sets
    "dedup_tier_agreement",
    "blocking_recall_audit",
    "fleiss_kappa_detectors",
    "lsh_param_plan",
    "linkage_entities",
    "prefix_filter_pairs",
    "sorted_neighborhood_pairs",
    "winnowing_pairs",
    # --- embedding/ANN fragment, members chosen per the r11 verdict:
    # the kNN ladder, the PQ ladder, and the near-dup/CC tier — r11
    # plan changes without driver rows
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
]


def _apply_window(window: list[str]) -> None:
    """Put ``window`` in slots 0-49 (the gate's hash-checked prefix);
    every other query keeps its registration order. Fails loudly on a
    typo or a window entry missing its oracle — a silent miss would
    waste a certification round."""
    missing = [n for n in window if n not in _QUERIES]
    assert not missing, f"window names not registered: {missing}"
    no_oracle = [n for n in window if n not in _ORACLES]
    assert not no_oracle, f"window names lack oracles: {no_oracle}"
    # The driver hash-checks the first 50 slots. The window may run
    # SHORT of 50 mid-round (r08+): the extra prefix slots then fall
    # to already-green families, which re-check harmlessly. It must
    # never exceed 50 — a 51st entry would silently skip the gate.
    assert len(window) == len(set(window)) <= 50, len(window)
    ordered = {n: _QUERIES[n] for n in window}
    for n, fn in _QUERIES.items():
        ordered.setdefault(n, fn)
    _QUERIES.clear()
    _QUERIES.update(ordered)


def _ensure_loaded() -> None:
    global _LOADED
    if _LOADED:
        return

    from .operators import (
        analytics as an,
        basket,
        bpe,
        changelog,
        chunking,
        clustering,
        codec,
        curation,
        dedup,
        dq,
        drift,
        features,
        inference,
        layout,
        lexstats,
        linkage,
        lm,
        mapvalues,
        multimodal,
        nb,
        pca,
        pq,
        purchases,
        quantize,
        rangejoin,
        retrieval,
        sampling,
        segmentation,
        similarity,
        sketches,
        skew,
        spectral,
        stats,
        subqueries as sq,
        substring_dedup,
        temporal,
        textops,
        trade,
        wordcount,
    )

    # ---- slots 0-49: the correctness window, in _WINDOW_R12 order ----
    register(
        "mood_median_test",
        inference.mood_median_test_query,
        inference.MOOD_MEDIAN_TEST_ORACLE,
    )
    register(
        "cliffs_delta_sources",
        inference.cliffs_delta_sources_query,
        inference.CLIFFS_DELTA_SOURCES_ORACLE,
    )
    register(
        "jonckheere_trend",
        inference.jonckheere_trend_query,
        inference.JONCKHEERE_TREND_ORACLE,
    )
    register(
        "durbin_watson_daily",
        stats.durbin_watson_daily_query,
        stats.DURBIN_WATSON_DAILY_ORACLE,
    )
    register(
        "ad_ksample_sources",
        drift.ad_ksample_sources_query,
        drift.AD_KSAMPLE_SOURCES_ORACLE,
    )
    register(
        "dunn_posthoc_sources",
        inference.dunn_posthoc_sources_query,
        inference.DUNN_POSTHOC_SOURCES_ORACLE,
    )
    register(
        "ansari_bradley_halves",
        inference.ansari_bradley_halves_query,
        inference.ANSARI_BRADLEY_HALVES_ORACLE,
    )
    register(
        "cmh_event_value",
        inference.cmh_event_value_query,
        inference.CMH_EVENT_VALUE_ORACLE,
    )
    register(
        "somers_d_priority",
        inference.somers_d_priority_query,
        inference.SOMERS_D_PRIORITY_ORACLE,
    )
    register(
        "welch_anova_sources",
        inference.welch_anova_sources_query,
        inference.WELCH_ANOVA_SOURCES_ORACLE,
    )
    register(
        "quade_event_mix",
        inference.quade_event_mix_query,
        inference.QUADE_EVENT_MIX_ORACLE,
    )
    register(
        "markov_stationary",
        an.markov_stationary_query,
        an.MARKOV_STATIONARY_ORACLE,
    )
    register(
        "power_iteration",
        spectral.power_iteration_query,
        spectral.POWER_ITERATION_ORACLE,
    )
    register(
        "pca_top_component",
        pca.pca_top_component_query,
        pca.PCA_TOP_COMPONENT_ORACLE,
    )

    register(
        "payload_phash",
        multimodal.payload_phash_query,
        multimodal.PAYLOAD_PHASH_ORACLE,
        family="mm",
    )
    register(
        "phash_dup_pairs",
        multimodal.phash_dup_pairs_query,
        multimodal.PHASH_DUP_PAIRS_ORACLE,
        family="mm",
    )
    register(
        "phash_threshold_sweep",
        multimodal.phash_threshold_sweep_query,
        multimodal.PHASH_THRESHOLD_SWEEP_ORACLE,
        family="mm",
    )

    register(
        "corpus_keep",
        curation.corpus_keep_query,
        curation.CORPUS_KEEP_ORACLE,
        family="cur",
    )
    register(
        "corpus_keep_full",
        curation.corpus_keep_full_query,
        curation.CORPUS_KEEP_FULL_ORACLE,
        family="cur",
    )
    # BPE tokenizer training loop (iterative merges, vocab-sized work)
    register("bpe_train", bpe.bpe_train_query, bpe.BPE_TRAIN_ORACLE, family="cur")
    register("bpe_encode", bpe.bpe_encode_query, bpe.BPE_ENCODE_ORACLE, family="cur")
    register(
        "bpe_doc_tokens",
        bpe.bpe_doc_tokens_query,
        bpe.BPE_DOC_TOKENS_ORACLE,
        family="cur",
    )
    register(
        "training_manifest",
        curation.training_manifest_query,
        curation.TRAINING_MANIFEST_ORACLE,
        family="cur",
    )

    register(
        "dedup_clusters",
        clustering.dedup_clusters_query,
        clustering.DEDUP_CLUSTERS_ORACLE,
        family="graph",
    )
    register(
        "dup_pagerank",
        clustering.dup_pagerank_query,
        clustering.DUP_PAGERANK_ORACLE,
        family="graph",
    )
    register(
        "dedup_representative_stats",
        clustering.dedup_representative_stats_query,
        clustering.DEDUP_REPRESENTATIVE_STATS_ORACLE,
        family="graph",
    )
    register(
        "contrastive_collision",
        clustering.contrastive_collision_query,
        clustering.CONTRASTIVE_COLLISION_ORACLE,
        family="graph",
    )
    register(
        "cluster_keep_list",
        clustering.cluster_keep_list_query,
        clustering.CLUSTER_KEEP_LIST_ORACLE,
        family="graph",
    )
    register(
        "dup_graph_degrees",
        clustering.dup_graph_degrees_query,
        clustering._degrees_oracle(),
        family="graph",
    )
    # k-core nucleus of the near-dup graph (iterative peel)
    register("kcore", clustering.kcore_query, clustering.KCORE_ORACLE, family="graph")
    register(
        "source_modularity",
        clustering.source_modularity_query,
        clustering._source_modularity_oracle(),
        family="graph",
    )
    register(
        "degree_assortativity",
        clustering.degree_assortativity_query,
        clustering._degree_assortativity_oracle(),
        family="graph",
    )

    register(
        "dedup_tier_agreement",
        dedup.dedup_tier_agreement_query,
        dedup.DEDUP_TIER_AGREEMENT_ORACLE,
        family="dedup",
    )
    register(
        "blocking_recall_audit",
        dedup.blocking_recall_audit_query,
        dedup.BLOCKING_RECALL_AUDIT_ORACLE,
        family="dedup",
    )
    register(
        "fleiss_kappa_detectors",
        dedup.fleiss_kappa_detectors_query,
        dedup.FLEISS_KAPPA_DETECTORS_ORACLE,
        family="dedup",
    )
    register(
        "lsh_param_plan",
        dedup.lsh_param_plan_query,
        dedup.LSH_PARAM_PLAN_ORACLE,
        family="dedup",
    )
    register(
        "linkage_entities",
        linkage.linkage_entities_query,
        linkage.LINKAGE_ENTITIES_ORACLE,
        family="dedup",
    )
    # Lossless prefix-filtered set-similarity join: the oracle is the
    # NAIVE exact tau-join, so the hash check is a machine-checked
    # completeness proof of the prefix filter.
    register(
        "prefix_filter_pairs",
        dedup.prefix_filter_pairs_query,
        dedup.PREFIX_FILTER_PAIRS_ORACLE,
        family="dedup",
    )
    register(
        "sorted_neighborhood_pairs",
        dedup.sorted_neighborhood_pairs_query,
        dedup.SORTED_NEIGHBORHOOD_PAIRS_ORACLE,
        family="dedup",
    )
    register(
        "winnowing_pairs",
        dedup.winnowing_pairs_query,
        dedup.WINNOWING_PAIRS_ORACLE,
        family="dedup",
    )

    register(
        "knn_graph",
        similarity.knn_graph_query,
        similarity.KNN_GRAPH_ORACLE,
        family="sim",
    )
    register(
        "knn_triangles",
        similarity.knn_triangles_query,
        similarity.KNN_TRIANGLES_ORACLE,
        family="sim",
    )
    register(
        "knn_lof_outliers",
        similarity.knn_lof_outliers_query,
        similarity.KNN_LOF_ORACLE,
        family="sim",
    )
    register(
        "knn_label_purity",
        similarity.knn_label_purity_query,
        similarity.KNN_LABEL_PURITY_ORACLE,
        family="sim",
    )
    # product quantization: codes artifact + ADC compressed-domain ANN
    register("pq_codes", pq.pq_codes_query, pq.PQ_CODES_ORACLE, family="sim")
    register("pq_ann", pq.pq_ann_query, pq.PQ_ANN_ORACLE, family="sim")
    register("pq_recall", pq.pq_recall_query, pq.PQ_RECALL_ORACLE, family="sim")
    register(
        "ivf_near_dup",
        similarity.ivf_near_dup_query,
        similarity.IVF_NEAR_DUP_ORACLE,
        family="sim",
    )
    register(
        "embedding_dup_clusters",
        clustering.embedding_dup_clusters_query,
        clustering.EMBEDDING_DUP_CLUSTERS_ORACLE,
        family="sim",
    )
    register(
        "semantic_dedup_keep",
        clustering.semantic_dedup_keep_query,
        clustering.SEMANTIC_DEDUP_KEEP_ORACLE,
        family="sim",
    )

    # ---- slots 50+: registration order is run order ----
    register(
        "ivf_assign",
        similarity.ivf_assign_query,
        similarity.IVF_ASSIGN_ORACLE,
        family="sim",
    )
    register(
        "embedding_outliers",
        similarity.embedding_outliers_query,
        similarity.EMBEDDING_OUTLIERS_ORACLE,
        family="sim",
    )
    register(
        "ncc_confusion",
        similarity.ncc_confusion_query,
        similarity.NCC_CONFUSION_ORACLE,
        family="sim",
    )
    register(
        "cell_label_gini",
        similarity.cell_label_gini_query,
        similarity.CELL_LABEL_GINI_ORACLE,
        family="sim",
    )
    register(
        "v_measure_cells",
        similarity.v_measure_cells_query,
        similarity.V_MEASURE_CELLS_ORACLE,
        family="sim",
    )
    # Deterministic cell-probed top-k (nprobe dial): unlike lsh_ann the
    # whole search is oracle-checked; ann_topk is its recall reference.
    register(
        "ivf_ann", similarity.ivf_ann_query, similarity.IVF_ANN_ORACLE, family="sim"
    )
    register(
        "ivf_probe_recall_curve",
        similarity.ivf_probe_recall_curve_query,
        similarity.IVF_PROBE_RECALL_CURVE_ORACLE,
        family="sim",
    )
    register(
        "mrr_audit",
        retrieval.mrr_audit_query,
        retrieval.MRR_AUDIT_ORACLE,
        family="sim",
    )
    # Recall@k of the rows-only lsh_ann vs the exact baseline —
    # deterministic, so the LSH tier's quality contract is itself
    # hash-checked even though the raw search cannot be.
    register(
        "lsh_ann_recall",
        similarity.lsh_ann_recall_query,
        similarity.LSH_ANN_RECALL_ORACLE,
        family="sim",
    )
    register(
        "lsh_multiprobe_recall",
        similarity.lsh_multiprobe_recall_query,
        similarity.LSH_MULTIPROBE_RECALL_ORACLE,
        family="sim",
    )
    register(
        "matryoshka_recall",
        similarity.matryoshka_recall_query,
        similarity.MATRYOSHKA_RECALL_ORACLE,
        family="sim",
    )
    register(
        "recall_at_k_curve",
        similarity.recall_at_k_curve_query,
        similarity.RECALL_AT_K_CURVE_ORACLE,
        family="sim",
    )
    register(
        "int8_ann_recall",
        quantize.int8_ann_recall_query,
        quantize.INT8_ANN_RECALL_ORACLE,
        family="sim",
    )
    register(
        "binary_ann_recall",
        quantize.binary_ann_recall_query,
        quantize.BINARY_ANN_RECALL_ORACLE,
        family="sim",
    )
    register(
        "quantized_ann_ndcg",
        quantize.quantized_ann_ndcg_query,
        quantize.QUANTIZED_ANN_NDCG_ORACLE,
        family="sim",
    )
    register(
        "rank_biased_overlap",
        quantize.rank_biased_overlap_query,
        quantize.RANK_BIASED_OVERLAP_ORACLE,
        family="sim",
    )
    register(
        "pq_ann_rerank", pq.pq_ann_rerank_query, pq.PQ_ANN_RERANK_ORACLE, family="sim"
    )
    register(
        "ann_rank_fusion",
        similarity.ann_rank_fusion_query,
        similarity.ANN_RANK_FUSION_ORACLE,
        family="sim",
    )
    register(
        "dyn_ivf_assign",
        similarity.dyn_ivf_assign_query,
        similarity.DYN_IVF_ASSIGN_ORACLE,
        family="sim",
    )
    register(
        "adamic_adar_links",
        similarity.adamic_adar_links_query,
        similarity.ADAMIC_ADAR_LINKS_ORACLE,
        family="sim",
    )
    register(
        "local_clustering_coeff",
        retrieval.local_clustering_coeff_query,
        retrieval.LOCAL_CLUSTERING_COEFF_ORACLE,
        family="sim",
    )
    register(
        "ann_hubness_audit",
        retrieval.ann_hubness_audit_query,
        retrieval.ANN_HUBNESS_AUDIT_ORACLE,
        family="sim",
    )
    register(
        "label_purity_null_baseline",
        retrieval.label_purity_null_baseline_query,
        retrieval.LABEL_PURITY_NULL_BASELINE_ORACLE,
        family="sim",
    )
    register(
        "twonn_intrinsic_dim",
        retrieval.twonn_intrinsic_dim_query,
        retrieval.TWONN_INTRINSIC_DIM_ORACLE,
        family="sim",
    )

    register(
        "dedup_token_savings",
        dedup.dedup_token_savings_query,
        dedup.DEDUP_TOKEN_SAVINGS_ORACLE,
        family="dedup",
    )
    register(
        "source_dedup_matrix",
        dedup.source_dedup_matrix_query,
        dedup.SOURCE_DEDUP_MATRIX_ORACLE,
        family="dedup",
    )
    register(
        "minhash_estimate_audit",
        dedup.minhash_estimate_audit_query,
        dedup.MINHASH_ESTIMATE_AUDIT_ORACLE,
        family="dedup",
    )
    register(
        "detector_kappa",
        dedup.detector_kappa_query,
        dedup.DETECTOR_KAPPA_ORACLE,
        family="dedup",
    )
    register(
        "detector_cochran_q",
        dedup.detector_cochran_q_query,
        dedup.DETECTOR_COCHRAN_Q_ORACLE,
        family="dedup",
    )
    register(
        "kendall_w_detectors",
        dedup.kendall_w_detectors_query,
        dedup.KENDALL_W_DETECTORS_ORACLE,
        family="dedup",
    )
    register(
        "detector_mcnemar",
        dedup.detector_mcnemar_query,
        dedup.DETECTOR_MCNEMAR_ORACLE,
        family="dedup",
    )
    register(
        "dup_capture_recapture",
        dedup.dup_capture_recapture_query,
        dedup.DUP_CAPTURE_RECAPTURE_ORACLE,
        family="dedup",
    )
    register(
        "minhash_lsh_pairs",
        dedup.minhash_lsh_pairs_query,
        dedup.MINHASH_LSH_ORACLE,
        family="dedup",
    )
    # character-level verify tier on LSH candidates
    register(
        "edit_distance_pairs",
        dedup.edit_distance_pairs_query,
        dedup.EDIT_DISTANCE_PAIRS_ORACLE,
        family="dedup",
    )
    register(
        "fs_linkage_scores",
        linkage.fs_linkage_scores_query,
        linkage.FS_LINKAGE_ORACLE,
        family="dedup",
    )
    register(
        "containment_pairs",
        dedup.containment_pairs_query,
        dedup.CONTAINMENT_PAIRS_ORACLE,
        family="dedup",
    )
    register(
        "ngram_jaccard_pairs",
        dedup.ngram_jaccard_pairs_query,
        dedup.NGRAM_JACCARD_ORACLE,
        family="dedup",
    )
    register(
        "split_leakage_audit",
        sampling.split_leakage_audit_query,
        sampling.SPLIT_LEAKAGE_AUDIT_ORACLE,
        family="dedup",
    )

    register("exact_dedup", dedup.exact_dedup_query, dedup.EXACT_DEDUP_ORACLE)
    register("simhash", dedup.simhash_query, dedup.SIMHASH_ORACLE)
    register("simhash_pairs", dedup.simhash_pairs_query, dedup.SIMHASH_PAIRS_ORACLE)
    register(
        "contamination", dedup.contamination_query, dedup.CONTAMINATION_ORACLE
    )
    register(
        "boilerplate_ngrams",
        dedup.boilerplate_ngrams_query,
        dedup.BOILERPLATE_NGRAMS_ORACLE,
    )
    register(
        "ann_topk",
        similarity.ann_topk_query,
        similarity.ANN_TOPK_ORACLE,
        family="sim",
    )
    register(
        "label_centroids",
        similarity.label_centroids_query,
        similarity.LABEL_CENTROIDS_ORACLE,
    )
    register(
        "embedding_diversity",
        similarity.embedding_diversity_query,
        similarity.EMBEDDING_DIVERSITY_ORACLE,
    )
    register(
        "segment_spend_stats",
        stats.segment_spend_stats_query,
        stats.SEGMENT_SPEND_STATS_ORACLE,
    )
    register(
        "segment_spend_median",
        stats.segment_spend_median_query,
        stats.SEGMENT_SPEND_MEDIAN_ORACLE,
    )
    register(
        "winsorized_event_stats",
        stats.winsorized_event_stats_query,
        stats.WINSORIZED_EVENT_STATS_ORACLE,
    )
    register(
        "event_anomalies",
        stats.event_anomalies_query,
        stats.EVENT_ANOMALIES_ORACLE,
    )
    register(
        "data_quality_audit",
        dq.data_quality_audit_query,
        dq.DATA_QUALITY_AUDIT_ORACLE,
    )
    register(
        "distinct_users_daily",
        sketches.distinct_users_daily_query,
        sketches.DISTINCT_USERS_DAILY_ORACLE,
    )
    # Sketch estimates are engine-specific, so the registered form
    # asserts the error bound IN the result (exact values + universally
    # true within-bound booleans the oracle hash-checks); the tight
    # per-sigma accuracy assertions live in tests/test_sketches.py
    # against the raw-estimate variants.
    register(
        "approx_distinct_users",
        sketches.approx_distinct_check_query,
        sketches.APPROX_DISTINCT_CHECK_ORACLE,
    )
    register(
        "approx_percentiles",
        sketches.approx_percentiles_check_query,
        sketches.APPROX_PCT_CHECK_ORACLE,
    )
    register(
        "value_percentiles",
        sketches.value_percentiles_query,
        sketches.VALUE_PERCENTILES_ORACLE,
    )
    register("top_events", sketches.top_events_query, sketches.TOP_EVENTS_ORACLE)
    register(
        "value_histogram",
        sketches.value_histogram_query,
        sketches.VALUE_HISTOGRAM_ORACLE,
    )
    register("quality_score", textops.quality_score_query, textops.QUALITY_SCORE_ORACLE)
    register(
        "tfidf_top_terms",
        textops.tfidf_top_terms_query,
        textops.TFIDF_TOP_TERMS_ORACLE,
    )
    register("token_count", textops.token_count_query, textops.TOKEN_COUNT_ORACLE)
    register("doc_fingerprint", textops.fingerprint_query, textops.FINGERPRINT_ORACLE)
    register("lang_id", textops.lang_id_query, textops.LANG_ID_ORACLE)
    register("clean_text", textops.clean_text_query, textops.CLEAN_TEXT_ORACLE)
    register("pii_scan", textops.pii_scan_query, textops.PII_SCAN_ORACLE)
    register("doc_chunks", textops.doc_chunks_query, textops.DOC_CHUNKS_ORACLE)
    register("bm25_search", textops.bm25_search_query, textops.BM25_SEARCH_ORACLE)
    register(
        "chunk_packing", textops.chunk_packing_query, textops.CHUNK_PACKING_ORACLE
    )
    register(
        "gopher_quality", textops.gopher_quality_query, textops.GOPHER_QUALITY_ORACLE
    )
    register(
        "doc_repetition", textops.doc_repetition_query, textops.DOC_REPETITION_ORACLE
    )
    register(
        "vocab_coverage", textops.vocab_coverage_query, textops.VOCAB_COVERAGE_ORACLE
    )
    register(
        "source_profile", textops.source_profile_query, textops.SOURCE_PROFILE_ORACLE
    )
    register(
        "source_overlap", textops.source_overlap_query, textops.SOURCE_OVERLAP_ORACLE
    )
    register(
        "bpe_merge_candidates",
        textops.bpe_merge_candidates_query,
        textops.BPE_MERGE_CANDIDATES_ORACLE,
    )
    register(
        "multimodal_features",
        multimodal.multimodal_features_query,
        multimodal.MULTIMODAL_FEATURES_ORACLE,
    )
    # Approximate by construction (bucketed recall < 1): rows-only
    # check; lsh_ann_recall hash-checks its quality.
    register("lsh_ann", similarity.lsh_ann_query, None)
    register(
        "token_rarity", textops.token_rarity_query, textops.TOKEN_RARITY_ORACLE
    )
    register(
        "heavy_hitters",
        sketches.heavy_hitters_check_query,
        sketches.HEAVY_HITTERS_CHECK_ORACLE,
    )
    register(
        "frame_sample", multimodal.frame_sample_query, multimodal.FRAME_SAMPLE_ORACLE
    )
    register(
        "dataset_split", sampling.dataset_split_query, sampling.DATASET_SPLIT_ORACLE
    )
    register(
        "stratified_sample",
        sampling.stratified_sample_query,
        sampling.STRATIFIED_SAMPLE_ORACLE,
    )
    register(
        "mixture_sample", sampling.mixture_sample_query, sampling.MIXTURE_SAMPLE_ORACLE
    )
    register("source_cap", sampling.source_cap_query, sampling.SOURCE_CAP_ORACLE)
    register(
        "purchases_agg_salted",
        skew.purchases_agg_salted_query,
        skew.PURCHASES_AGG_SALTED_ORACLE,
    )
    register(
        "ktable_latest", changelog.ktable_latest_query, changelog.KTABLE_LATEST_ORACLE
    )
    register(
        "prior_clicks_before_error",
        rangejoin.prior_clicks_before_error_query,
        rangejoin.PRIOR_CLICKS_BEFORE_ERROR_ORACLE,
    )
    register(
        "error_window_counts",
        rangejoin.error_window_counts_query,
        rangejoin.ERROR_WINDOW_COUNTS_ORACLE,
    )
    register("wordcount", wordcount.wordcount_query, wordcount.WORDCOUNT_ORACLE)
    register(
        "wordcount_point_lookup",
        wordcount.point_lookup_query,
        wordcount.POINT_LOOKUP_ORACLE,
    )
    register(
        "purchases_agg", purchases.purchases_agg_query, purchases.PURCHASES_AGG_ORACLE
    )
    register(
        "purchases_range_scan", purchases.range_scan_query, purchases.RANGE_SCAN_ORACLE
    )
    register("uppercase", mapvalues.uppercase_query, mapvalues.UPPERCASE_ORACLE)
    register("json_enrich", mapvalues.json_enrich_query, mapvalues.JSON_ENRICH_ORACLE)
    register(
        "json_props_stats",
        mapvalues.json_props_stats_query,
        mapvalues.JSON_PROPS_STATS_ORACLE,
    )
    register("pricing_summary", an.pricing_summary_query, an.PRICING_SUMMARY_ORACLE)
    register(
        "shipping_priority", an.shipping_priority_query, an.SHIPPING_PRIORITY_ORACLE
    )
    register(
        "local_supplier_revenue",
        an.local_supplier_revenue_query,
        an.LOCAL_SUPPLIER_REVENUE_ORACLE,
    )
    register(
        "top_orders_per_customer",
        an.top_orders_per_customer_query,
        an.TOP_ORDERS_PER_CUSTOMER_ORACLE,
    )
    register("revenue_rollup", an.revenue_rollup_query, an.REVENUE_ROLLUP_ORACLE)
    register(
        "active_rich_customers",
        an.active_rich_customers_query,
        an.ACTIVE_RICH_CUSTOMERS_ORACLE,
    )
    register(
        "customers_without_orders",
        an.customers_without_orders_query,
        an.CUSTOMERS_WITHOUT_ORDERS_ORACLE,
    )
    register(
        "customers_with_open_orders",
        an.customers_with_open_orders_query,
        an.CUSTOMERS_WITH_OPEN_ORDERS_ORACLE,
    )
    register("events_hourly", an.events_hourly_query, an.EVENTS_HOURLY_ORACLE)
    register("user_sessions", an.user_sessions_query, an.USER_SESSIONS_ORACLE)
    register(
        "asof_prev_purchase",
        an.asof_prev_purchase_query,
        an.ASOF_PREV_PURCHASE_ORACLE,
    )
    register("events_hopping", an.events_hopping_query, an.EVENTS_HOPPING_ORACLE)
    register("revenue_cube", an.revenue_cube_query, an.REVENUE_CUBE_ORACLE)
    register(
        "revenue_grouping_sets",
        an.revenue_grouping_sets_query,
        an.REVENUE_GROUPING_SETS_ORACLE,
    )
    register(
        "click_no_purchase_days",
        an.click_no_purchase_days_query,
        an.CLICK_NO_PURCHASE_DAYS_ORACLE,
    )
    register(
        "error_and_signup_days",
        an.error_and_signup_days_query,
        an.ERROR_AND_SIGNUP_DAYS_ORACLE,
    )
    register("events_pivot", an.events_pivot_query, an.EVENTS_PIVOT_ORACLE)
    register("events_unpivot", an.events_unpivot_query, an.EVENTS_UNPIVOT_ORACLE)
    register(
        "funnel_conversion",
        an.funnel_conversion_query,
        an.FUNNEL_CONVERSION_ORACLE,
    )
    register(
        "retention_cohorts",
        an.retention_cohorts_query,
        an.RETENTION_COHORTS_ORACLE,
    )
    register(
        "revenue_forecast", an.revenue_forecast_query, an.REVENUE_FORECAST_ORACLE
    )
    register(
        "customer_balance_quartiles",
        an.customer_balance_quartiles_query,
        an.CUSTOMER_BALANCE_QUARTILES_ORACLE,
    )
    register(
        "rolling_user_value",
        an.rolling_user_value_query,
        an.ROLLING_USER_VALUE_ORACLE,
    )
    register(
        "user_event_type_sets",
        an.user_event_type_sets_query,
        an.USER_EVENT_TYPE_SETS_ORACLE,
    )
    register(
        "cust_order_counts", sq.cust_order_counts_query, sq.CUST_ORDER_COUNTS_ORACLE
    )
    register("promo_revenue", sq.promo_revenue_query, sq.PROMO_REVENUE_ORACLE)
    register("top_value_parts", sq.top_value_parts_query, sq.TOP_VALUE_PARTS_ORACLE)
    # small_qty_revenue (Q17) is registered from operators/trade.py
    # below — the earlier subqueries.py variant was deleted in round 9
    # after the round-8 shadowing incident (one owner per name).
    register(
        "brand_disjunction_revenue",
        sq.brand_disjunction_revenue_query,
        sq.BRAND_DISJUNCTION_REVENUE_ORACLE,
    )
    register(
        "idle_rich_customers",
        sq.idle_rich_customers_query,
        sq.IDLE_RICH_CUSTOMERS_ORACLE,
    )
    register(
        "latest_shipper_counts",
        sq.latest_shipper_counts_query,
        sq.LATEST_SHIPPER_COUNTS_ORACLE,
    )
    register(
        "top_revenue_supplier",
        sq.top_revenue_supplier_query,
        sq.TOP_REVENUE_SUPPLIER_ORACLE,
    )
    register(
        "bulk_part_suppliers",
        sq.bulk_part_suppliers_query,
        sq.BULK_PART_SUPPLIERS_ORACLE,
    )
    register(
        "volume_shipping", trade.volume_shipping_query, trade.VOLUME_SHIPPING_ORACLE
    )
    register("market_share", trade.market_share_query, trade.MARKET_SHARE_ORACLE)
    register("product_profit", trade.product_profit_query, trade.PRODUCT_PROFIT_ORACLE)
    register(
        "late_order_priority",
        trade.late_order_priority_query,
        trade.LATE_ORDER_PRIORITY_ORACLE,
    )
    register(
        "returned_items_top_customers",
        trade.returned_items_top_customers_query,
        trade.RETURNED_ITEMS_TOP_CUSTOMERS_ORACLE,
    )
    register(
        "supplier_part_variety",
        trade.supplier_part_variety_query,
        trade.SUPPLIER_PART_VARIETY_ORACLE,
    )
    register(
        "large_volume_customers",
        trade.large_volume_customers_query,
        trade.LARGE_VOLUME_CUSTOMERS_ORACLE,
    )
    register(
        "min_cost_supplier",
        trade.min_cost_supplier_query,
        trade.MIN_COST_SUPPLIER_ORACLE,
    )
    register(
        "important_part_values",
        trade.important_part_values_query,
        trade.IMPORTANT_PART_VALUES_ORACLE,
    )
    register(
        "shipping_speed_priority",
        trade.shipping_speed_priority_query,
        trade.SHIPPING_SPEED_PRIORITY_ORACLE,
    )
    # Corpus language-model scoring (CCNet/KenLM-style curation tier)
    register("unigram_lm_score", lm.unigram_lm_score_query, lm.UNIGRAM_LM_ORACLE)
    register(
        "source_kl_divergence",
        lm.source_kl_divergence_query,
        lm.SOURCE_KL_ORACLE,
    )
    register(
        "quality_weighted_sample",
        lm.quality_weighted_sample_query,
        lm.QUALITY_WEIGHTED_SAMPLE_ORACLE,
    )
    # Exact-substring dedup (Lee et al. 2022 rolling-window form)
    register(
        "shared_substrings",
        substring_dedup.shared_substrings_query,
        substring_dedup.SHARED_SUBSTRINGS_ORACLE,
    )
    register(
        "substring_dup_docs",
        substring_dedup.substring_dup_docs_query,
        substring_dedup.SUBSTRING_DUP_DOCS_ORACLE,
    )
    register(
        "doc_ngram_novelty",
        dedup.doc_ngram_novelty_query,
        dedup.DOC_NGRAM_NOVELTY_ORACLE,
    )
    # Embedding int8 quantization (serving/ANN storage tier)
    register(
        "embedding_quantize",
        quantize.embedding_quantize_query,
        quantize.EMBEDDING_QUANTIZE_ORACLE,
    )
    register(
        "quantization_error",
        quantize.quantization_error_query,
        quantize.QUANTIZATION_ERROR_ORACLE,
    )
    register(
        "quality_tiers", sampling.quality_tiers_query, sampling.QUALITY_TIERS_ORACLE
    )
    register(
        "mixture_weights", lm.mixture_weights_query, lm.MIXTURE_WEIGHTS_ORACLE
    )
    register(
        "robust_event_outliers",
        stats.robust_event_outliers_query,
        stats.ROBUST_EVENT_OUTLIERS_ORACLE,
    )
    register(
        "incremental_dedup",
        dedup.incremental_dedup_query,
        dedup._incremental_oracle(),
    )
    # batch inverted-index artifact (search-serving build)
    register(
        "inverted_index",
        textops.inverted_index_query,
        textops.INVERTED_INDEX_ORACLE,
    )
    # temporal maintenance: SCD2 history + dense-spine gap fill
    register(
        "scd2_history", temporal.scd2_history_query, temporal.SCD2_HISTORY_ORACLE
    )
    register(
        "gap_fill_daily",
        temporal.gap_fill_daily_query,
        temporal.GAP_FILL_DAILY_ORACLE,
    )
    register(
        "equi_depth_histogram",
        sketches.equi_depth_histogram_query,
        sketches.EQUI_DEPTH_HISTOGRAM_ORACLE,
    )
    # batch CDC between table snapshots (keys-only audit shape +
    # apply-ready payload shape, see run_apply_changes contract)
    register(
        "snapshot_diff",
        temporal.snapshot_diff_query,
        temporal.SNAPSHOT_DIFF_ORACLE,
    )
    register(
        "snapshot_diff_full",
        temporal.snapshot_diff_full_query,
        temporal.SNAPSHOT_DIFF_FULL_ORACLE,
    )
    # ML feature materialization
    register(
        "target_encoding",
        features.target_encoding_query,
        features.TARGET_ENCODING_ORACLE,
    )
    register(
        "feature_hashing",
        features.feature_hashing_query,
        features.FEATURE_HASHING_ORACLE,
    )
    register(
        "correlation_matrix",
        stats.correlation_matrix_query,
        stats.CORRELATION_MATRIX_ORACLE,
    )
    register(
        "table_profile",
        stats.table_profile_query,
        stats.TABLE_PROFILE_ORACLE,
    )
    register(
        "distribution_drift",
        dq.distribution_drift_query,
        dq.DISTRIBUTION_DRIFT_ORACLE,
    )
    register(
        "pareto_orders", an.pareto_orders_query, an.PARETO_ORDERS_ORACLE
    )
    register(
        "benford_audit", dq.benford_audit_query, dq.BENFORD_AUDIT_ORACLE
    )
    register("ltv_cohorts", an.ltv_cohorts_query, an.LTV_COHORTS_ORACLE)
    register("line_dedup", dedup.line_dedup_query, dedup.LINE_DEDUP_ORACLE)
    register(
        "lsh_multiprobe",
        similarity.lsh_multiprobe_query,
        similarity.LSH_MULTIPROBE_ORACLE,
    )
    register(
        "ivm_status_counts",
        temporal.ivm_status_counts_query,
        temporal.IVM_STATUS_COUNTS_ORACLE,
    )
    register(
        "segment_spend_quantiles",
        stats.segment_spend_quantiles_query,
        stats.SEGMENT_SPEND_QUANTILES_ORACLE,
    )
    register(
        "token_budget_selection",
        sampling.token_budget_selection_query,
        sampling.TOKEN_BUDGET_SELECTION_ORACLE,
    )
    # Two-pass scale form: SAME oracle as the exact form — the driver
    # hash check doubles as the equivalence proof.
    register(
        "token_budget_selection_2p",
        sampling.token_budget_selection_2p_query,
        sampling.TOKEN_BUDGET_SELECTION_ORACLE,
    )
    register(
        "equi_depth_histogram_2p",
        sketches.equi_depth_histogram_2p_query,
        sketches.EQUI_DEPTH_2P_ORACLE,
    )
    register(
        "lang_confusion",
        textops.lang_confusion_query,
        textops.LANG_CONFUSION_ORACLE,
    )
    register(
        "funnel_within_window",
        an.funnel_within_window_query,
        an.FUNNEL_WITHIN_WINDOW_ORACLE,
    )
    register(
        "source_distinctive_terms",
        textops.source_distinctive_terms_query,
        textops.SOURCE_DISTINCTIVE_TERMS_ORACLE,
    )
    register(
        "activity_heatmap",
        an.activity_heatmap_query,
        an.ACTIVITY_HEATMAP_ORACLE,
    )
    register(
        "stickiness_weekly",
        an.stickiness_weekly_query,
        an.STICKINESS_WEEKLY_ORACLE,
    )
    register(
        "event_transitions",
        an.event_transitions_query,
        an.EVENT_TRANSITIONS_ORACLE,
    )
    register(
        "referential_integrity",
        dq.referential_integrity_query,
        dq.REFERENTIAL_INTEGRITY_ORACLE,
    )
    register(
        "seasonal_anomalies",
        stats.seasonal_anomalies_query,
        stats.SEASONAL_ANOMALIES_ORACLE,
    )
    register(
        "basket_pairs", basket.basket_pairs_query, basket.BASKET_PAIRS_ORACLE
    )
    register(
        "zorder_layout", layout.zorder_layout_query, layout.ZORDER_LAYOUT_ORACLE
    )
    register(
        "vocab_growth", textops.vocab_growth_query, textops.VOCAB_GROWTH_ORACLE
    )
    register(
        "ewma_user_value",
        stats.ewma_user_value_query,
        stats.EWMA_USER_VALUE_ORACLE,
    )
    register(
        "ab_test_chi2", stats.ab_test_chi2_query, stats.AB_TEST_CHI2_ORACLE
    )
    register(
        "last_touch_attribution",
        an.last_touch_attribution_query,
        an.LAST_TOUCH_ATTRIBUTION_ORACLE,
    )
    register(
        "payload_chunks_fixed",
        chunking.payload_chunks_fixed_query,
        chunking.PAYLOAD_CHUNKS_FIXED_ORACLE,
    )
    # Content-defined chunking: the Gear rolling hash is not
    # SQL-expressible — rows-only; its contract (determinism,
    # coverage, bounds, boundary re-synchronization under edits)
    # is pinned in tests/test_chunking.py.
    register("payload_chunks_cdc", chunking.payload_chunks_cdc_query, None)
    register(
        "session_window_stats",
        an.session_window_stats_query,
        an.SESSION_WINDOW_STATS_ORACLE,
    )
    register(
        "pit_dimension_join",
        temporal.pit_dimension_join_query,
        temporal.PIT_DIMENSION_JOIN_ORACLE,
    )
    register(
        "cms_user_counts",
        sketches.cms_user_counts_query,
        sketches.CMS_USER_COUNTS_ORACLE,
    )
    register(
        "bloom_filter_audit",
        sketches.bloom_filter_audit_query,
        sketches.BLOOM_FILTER_AUDIT_ORACLE,
    )
    register(
        "k_anonymity_audit",
        dq.k_anonymity_audit_query,
        dq.K_ANONYMITY_AUDIT_ORACLE,
    )
    register(
        "hll_user_sketch",
        sketches.hll_user_sketch_query,
        sketches.HLL_USER_SKETCH_ORACLE,
    )
    register(
        "kmv_overlap",
        sketches.kmv_overlap_query,
        sketches.KMV_OVERLAP_ORACLE,
    )
    register(
        "cusum_changepoint",
        stats.cusum_changepoint_query,
        stats.CUSUM_CHANGEPOINT_ORACLE,
    )
    register(
        "freshness_audit", dq.freshness_audit_query, dq.FRESHNESS_AUDIT_ORACLE
    )
    register(
        "enum_domain_audit",
        dq.enum_domain_audit_query,
        dq.ENUM_DOMAIN_AUDIT_ORACLE,
    )
    register(
        "debounce_events",
        an.debounce_events_query,
        an.DEBOUNCE_EVENTS_ORACLE,
    )
    register(
        "readability", textops.readability_query, textops.READABILITY_ORACLE
    )
    register(
        "weekly_autocorr",
        stats.weekly_autocorr_query,
        stats.WEEKLY_AUTOCORR_ORACLE,
    )
    register(
        "segment_trend", stats.segment_trend_query, stats.SEGMENT_TREND_ORACLE
    )
    register(
        "hapax_rate", lexstats.hapax_rate_query, lexstats.HAPAX_RATE_ORACLE
    )
    register(
        "tokenizer_fertility",
        lexstats.tokenizer_fertility_query,
        lexstats.TOKENIZER_FERTILITY_ORACLE,
    )
    register(
        "term_cooccurrence",
        lexstats.term_cooccurrence_query,
        lexstats.TERM_COOCCURRENCE_ORACLE,
    )
    register(
        "doclen_log_hist",
        lexstats.doclen_log_hist_query,
        lexstats.DOCLEN_LOG_HIST_ORACLE,
    )
    register(
        "prefix_dup_groups",
        lexstats.prefix_dup_groups_query,
        lexstats.PREFIX_DUP_GROUPS_ORACLE,
    )
    register(
        "rfm_segments",
        segmentation.rfm_segments_query,
        segmentation.RFM_SEGMENTS_ORACLE,
    )
    register(
        "spend_gini", segmentation.spend_gini_query, segmentation.SPEND_GINI_ORACLE
    )
    register(
        "order_gap_stats",
        segmentation.order_gap_stats_query,
        segmentation.ORDER_GAP_STATS_ORACLE,
    )
    register(
        "sequence_gap_audit",
        dq.sequence_gap_audit_query,
        dq.SEQUENCE_GAP_AUDIT_ORACLE,
    )
    register(
        "watermark_lag_audit",
        dq.watermark_lag_audit_query,
        dq.WATERMARK_LAG_AUDIT_ORACLE,
    )
    register(
        "bigram_next_token",
        lm.bigram_next_token_query,
        lm.BIGRAM_NEXT_TOKEN_ORACLE,
    )
    register(
        "compaction_plan",
        layout.compaction_plan_query,
        layout.COMPACTION_PLAN_ORACLE,
    )
    register(
        "join_key_skew", skew.join_key_skew_query, skew.JOIN_KEY_SKEW_ORACLE
    )
    register(
        "int8_ann", quantize.int8_ann_query, quantize.INT8_ANN_ORACLE, family="sim"
    )
    register(
        "cluster_cohesion",
        similarity.cluster_cohesion_query,
        similarity.CLUSTER_COHESION_ORACLE,
    )
    register(
        "budget_allocation",
        sampling.budget_allocation_query,
        sampling.BUDGET_ALLOCATION_ORACLE,
    )
    register(
        "winnowing_fingerprints",
        dedup.winnowing_fingerprints_query,
        dedup.WINNOWING_FINGERPRINTS_ORACLE,
        family="dedup",
    )
    register(
        "epoch_interleave",
        sampling.epoch_interleave_query,
        sampling.EPOCH_INTERLEAVE_ORACLE,
    )
    register(
        "char_entropy",
        textops.char_entropy_query,
        textops.CHAR_ENTROPY_ORACLE,
    )
    register(
        "l_diversity_audit",
        dq.l_diversity_audit_query,
        dq.L_DIVERSITY_AUDIT_ORACLE,
    )
    register(
        "join_size_estimate",
        sketches.join_size_estimate_query,
        sketches.JOIN_SIZE_ESTIMATE_ORACLE,
    )
    register(
        "t_closeness_audit",
        dq.t_closeness_audit_query,
        dq.T_CLOSENESS_AUDIT_ORACLE,
    )
    register(
        "resize_payload",
        multimodal.resize_payload_query,
        multimodal.RESIZE_PAYLOAD_ORACLE,
    )
    register(
        "systematic_weighted_sample",
        sampling.systematic_weighted_sample_query,
        sampling.SYSTEMATIC_WEIGHTED_SAMPLE_ORACLE,
    )
    register(
        "trimmed_mean_by_type",
        stats.trimmed_mean_by_type_query,
        stats.TRIMMED_MEAN_BY_TYPE_ORACLE,
    )
    register(
        "phrase_search",
        textops.phrase_search_query,
        textops.PHRASE_SEARCH_ORACLE,
    )
    register(
        "bigram_lm_score",
        lm.bigram_lm_score_query,
        lm.BIGRAM_LM_ORACLE,
    )
    register(
        "transition_entropy",
        an.transition_entropy_query,
        an.TRANSITION_ENTROPY_ORACLE,
    )
    # Binary (1-bit) quantization tier: signatures, Hamming ANN, and
    # its recall gate vs the exact float search — completes the
    # float32 -> int8 -> PQ -> binary compression cascade.
    register(
        "binary_signatures",
        quantize.binary_signatures_query,
        quantize.BINARY_SIGNATURES_ORACLE,
    )
    register(
        "binary_ann",
        quantize.binary_ann_query,
        quantize.BINARY_ANN_ORACLE,
        family="sim",
    )
    register(
        "kneser_ney_bigram",
        lm.kneser_ney_bigram_query,
        lm.KNESER_NEY_BIGRAM_ORACLE,
    )
    register(
        "dp_laplace_counts",
        dq.dp_laplace_counts_query,
        dq.DP_LAPLACE_COUNTS_ORACLE,
    )
    register(
        "mutual_information",
        stats.mutual_information_query,
        stats.MUTUAL_INFORMATION_ORACLE,
    )
    register(
        "ivm_join_revenue",
        temporal.ivm_join_revenue_query,
        temporal.IVM_JOIN_REVENUE_ORACLE,
    )
    register(
        "hll_rolling_distinct",
        sketches.hll_rolling_distinct_query,
        sketches.HLL_ROLLING_DISTINCT_ORACLE,
    )
    register(
        "charset_profile",
        textops.charset_profile_query,
        textops.CHARSET_PROFILE_ORACLE,
    )
    register(
        "bootstrap_se",
        stats.bootstrap_se_query,
        stats.BOOTSTRAP_SE_ORACLE,
    )
    register(
        "dsir_importance",
        lm.dsir_importance_query,
        lm.DSIR_IMPORTANCE_ORACLE,
    )
    register(
        "calibration_audit",
        features.calibration_audit_query,
        features.CALIBRATION_AUDIT_ORACLE,
    )
    register(
        "hll_distinct_rollup",
        sketches.hll_distinct_rollup_query,
        sketches.HLL_DISTINCT_ROLLUP_ORACLE,
    )
    register(
        "basket_triples",
        basket.basket_triples_query,
        basket.BASKET_TRIPLES_ORACLE,
    )
    register(
        "zipf_fit", lexstats.zipf_fit_query, lexstats.ZIPF_FIT_ORACLE
    )
    register(
        "nb_lang_confusion",
        nb.nb_lang_confusion_query,
        nb.NB_LANG_CONFUSION_ORACLE,
    )
    register(
        "pii_redact", textops.pii_redact_query, textops.PII_REDACT_ORACLE
    )
    register(
        "km_user_survival",
        stats.km_user_survival_query,
        stats.KM_USER_SURVIVAL_ORACLE,
    )
    register(
        "zone_map_skip_audit",
        layout.zone_map_skip_audit_query,
        layout.ZONE_MAP_SKIP_AUDIT_ORACLE,
    )
    register(
        "source_ablation",
        lm.source_ablation_query,
        lm.SOURCE_ABLATION_ORACLE,
    )
    register(
        "rendezvous_reshard_audit",
        layout.rendezvous_reshard_audit_query,
        layout.RENDEZVOUS_RESHARD_ORACLE,
    )
    register(
        "top_session_paths",
        an.top_session_paths_query,
        an.TOP_SESSION_PATHS_ORACLE,
    )
    register(
        "batch_mix_audit",
        sampling.batch_mix_audit_query,
        sampling.BATCH_MIX_ORACLE,
    )
    register("fd_audit", dq.fd_audit_query, dq.FD_AUDIT_ORACLE)
    register(
        "ht_estimate_audit",
        sampling.ht_estimate_audit_query,
        sampling.HT_ESTIMATE_AUDIT_ORACLE,
    )
    register(
        "priority_sample",
        sampling.priority_sample_query,
        sampling.PRIORITY_SAMPLE_ORACLE,
    )
    register(
        "neyman_allocation",
        sampling.neyman_allocation_query,
        sampling.NEYMAN_ALLOCATION_ORACLE,
    )
    register(
        "dp_topk_release",
        dq.dp_topk_release_query,
        dq.DP_TOPK_RELEASE_ORACLE,
    )
    register(
        "curriculum_pacing",
        curation.curriculum_pacing_query,
        curation.CURRICULUM_PACING_ORACLE,
    )
    register(
        "conformal_coverage_audit",
        stats.conformal_coverage_audit_query,
        stats.CONFORMAL_COVERAGE_AUDIT_ORACLE,
    )
    register(
        "mmr_rerank",
        similarity.mmr_rerank_query,
        similarity.MMR_RERANK_ORACLE,
    )
    register(
        "hilbert_layout",
        layout.hilbert_layout_query,
        layout.HILBERT_LAYOUT_ORACLE,
    )
    register(
        "weighted_priority_sample",
        sampling.weighted_priority_sample_query,
        sampling.WEIGHTED_PRIORITY_SAMPLE_ORACLE,
    )
    register(
        "idle_customer_balance",
        an.idle_customer_balance_query,
        an.IDLE_CUSTOMER_BALANCE_ORACLE,
    )
    register(
        "source_similarity_matrix",
        textops.source_similarity_matrix_query,
        textops.SOURCE_SIMILARITY_MATRIX_ORACLE,
    )
    register(
        "kcenter_coreset",
        retrieval.kcenter_coreset_query,
        retrieval.KCENTER_CORESET_ORACLE,
    )
    register(
        "maxsim_late_interaction",
        retrieval.maxsim_late_interaction_query,
        retrieval.MAXSIM_LATE_INTERACTION_ORACLE,
    )
    register(
        "rocchio_expansion",
        retrieval.rocchio_expansion_query,
        retrieval.ROCCHIO_EXPANSION_ORACLE,
    )
    register(
        "ks_drift_audit",
        drift.ks_drift_audit_query,
        drift.KS_DRIFT_AUDIT_ORACLE,
    )
    register(
        "mmd_label_drift",
        drift.mmd_label_drift_query,
        drift.MMD_LABEL_DRIFT_ORACLE,
    )
    register(
        "ab_proportion_test",
        drift.ab_proportion_test_query,
        drift.AB_PROPORTION_TEST_ORACLE,
    )
    register(
        "simpson_reversal_audit",
        drift.simpson_reversal_audit_query,
        drift.SIMPSON_REVERSAL_AUDIT_ORACLE,
    )
    register(
        "jl_projection_audit",
        drift.jl_projection_audit_query,
        drift.JL_PROJECTION_AUDIT_ORACLE,
    )
    register(
        "theil_sen_trend",
        stats.theil_sen_trend_query,
        stats.THEIL_SEN_TREND_ORACLE,
    )
    register(
        "nelson_aalen_hazard",
        stats.nelson_aalen_hazard_query,
        stats.NELSON_AALEN_HAZARD_ORACLE,
    )
    register(
        "runs_test_randomness",
        stats.runs_test_randomness_query,
        stats.RUNS_TEST_RANDOMNESS_ORACLE,
    )
    register(
        "ams_f2_estimate",
        sketches.ams_f2_estimate_query,
        sketches.AMS_F2_ESTIMATE_ORACLE,
    )
    register(
        "dp_clipped_mean",
        dq.dp_clipped_mean_query,
        dq.DP_CLIPPED_MEAN_ORACLE,
    )
    register(
        "collocation_pmi",
        textops.collocation_pmi_query,
        textops.COLLOCATION_PMI_ORACLE,
    )
    register(
        "chao1_vocab_estimate",
        lexstats.chao1_vocab_estimate_query,
        lexstats.CHAO1_VOCAB_ESTIMATE_ORACLE,
    )
    register(
        "group_kfold_split",
        sampling.group_kfold_split_query,
        sampling.GROUP_KFOLD_SPLIT_ORACLE,
    )
    register(
        "layout_locality_audit",
        layout.layout_locality_audit_query,
        layout.LAYOUT_LOCALITY_AUDIT_ORACLE,
    )
    register(
        "bucket_plan",
        layout.bucket_plan_query,
        layout.BUCKET_PLAN_ORACLE,
    )
    register(
        "session_concurrency",
        an.session_concurrency_query,
        an.SESSION_CONCURRENCY_ORACLE,
    )
    register(
        "poisson_dispersion_audit",
        stats.poisson_dispersion_audit_query,
        stats.POISSON_DISPERSION_AUDIT_ORACLE,
    )
    register(
        "facility_location_coreset",
        retrieval.facility_location_coreset_query,
        retrieval.FACILITY_LOCATION_CORESET_ORACLE,
    )
    register(
        "gate_ordering_plan",
        curation.gate_ordering_plan_query,
        curation.GATE_ORDERING_PLAN_ORACLE,
    )
    register(
        "waterfill_allocation",
        sampling.waterfill_allocation_query,
        sampling.WATERFILL_ALLOCATION_ORACLE,
    )
    register(
        "salt_factor_plan",
        skew.salt_factor_plan_query,
        skew.SALT_FACTOR_PLAN_ORACLE,
    )
    register(
        "mann_whitney_audit",
        inference.mann_whitney_audit_query,
        inference.MANN_WHITNEY_AUDIT_ORACLE,
    )
    register(
        "kendall_tau_trend",
        inference.kendall_tau_trend_query,
        inference.KENDALL_TAU_TREND_ORACLE,
    )
    register(
        "spearman_trend",
        inference.spearman_trend_query,
        inference.SPEARMAN_TREND_ORACLE,
    )
    register(
        "cvm_drift_audit",
        inference.cvm_drift_audit_query,
        inference.CVM_DRIFT_AUDIT_ORACLE,
    )
    register(
        "pettitt_changepoint",
        inference.pettitt_changepoint_query,
        inference.PETTITT_CHANGEPOINT_ORACLE,
    )
    register(
        "wilson_ci_segments",
        inference.wilson_ci_segments_query,
        inference.WILSON_CI_SEGMENTS_ORACLE,
    )
    register(
        "eb_rate_shrinkage",
        inference.eb_rate_shrinkage_query,
        inference.EB_RATE_SHRINKAGE_ORACLE,
    )
    register(
        "cramers_v_association",
        inference.cramers_v_association_query,
        inference.CRAMERS_V_ASSOCIATION_ORACLE,
    )
    register(
        "hodges_lehmann_shift",
        inference.hodges_lehmann_shift_query,
        inference.HODGES_LEHMANN_SHIFT_ORACLE,
    )
    register(
        "source_concentration_audit",
        inference.source_concentration_audit_query,
        inference.SOURCE_CONCENTRATION_AUDIT_ORACLE,
    )
    register(
        "embedding_anisotropy_audit",
        retrieval.embedding_anisotropy_audit_query,
        retrieval.EMBEDDING_ANISOTROPY_AUDIT_ORACLE,
    )
    register(
        "multiwidth_span_profile",
        substring_dedup.multiwidth_span_profile_query,
        substring_dedup.MULTIWIDTH_SPAN_PROFILE_ORACLE,
    )
    register(
        "simhash_threshold_sweep",
        dedup.simhash_threshold_sweep_query,
        dedup.SIMHASH_THRESHOLD_SWEEP_ORACLE,
    )
    register(
        "clustering_depth_audit",
        layout.clustering_depth_audit_query,
        layout.CLUSTERING_DEPTH_AUDIT_ORACLE,
    )
    register(
        "sqrt_temperature_mix",
        sampling.sqrt_temperature_mix_query,
        sampling.SQRT_TEMPERATURE_MIX_ORACLE,
    )
    register(
        "quantile_normalize_map",
        inference.quantile_normalize_map_query,
        inference.QUANTILE_NORMALIZE_MAP_ORACLE,
    )
    register(
        "bh_fdr_drift_gates",
        inference.bh_fdr_drift_gates_query,
        inference.BH_FDR_DRIFT_GATES_ORACLE,
    )
    register(
        "ljung_box_stat",
        inference.ljung_box_stat_query,
        inference.LJUNG_BOX_STAT_ORACLE,
    )
    register(
        "mann_kendall_trend",
        inference.mann_kendall_trend_query,
        inference.MANN_KENDALL_TREND_ORACLE,
    )
    register(
        "loo_source_sensitivity",
        inference.loo_source_sensitivity_query,
        inference.LOO_SOURCE_SENSITIVITY_ORACLE,
    )
    register(
        "skyline_quality_length",
        curation.skyline_quality_length_query,
        curation.SKYLINE_QUALITY_LENGTH_ORACLE,
    )
    register(
        "split_srm_check",
        sampling.split_srm_check_query,
        sampling.SPLIT_SRM_CHECK_ORACLE,
    )
    register(
        "welch_t_audit",
        inference.welch_t_audit_query,
        inference.WELCH_T_AUDIT_ORACLE,
    )
    register(
        "cochran_armitage_trend",
        inference.cochran_armitage_trend_query,
        inference.COCHRAN_ARMITAGE_TREND_ORACLE,
    )
    register(
        "hash_bucket_uniformity",
        sampling.hash_bucket_uniformity_query,
        sampling.HASH_BUCKET_UNIFORMITY_ORACLE,
    )
    register(
        "ivf_margin_audit",
        similarity.ivf_margin_audit_query,
        similarity.IVF_MARGIN_AUDIT_ORACLE,
    )
    register(
        "novelty_decay_curve",
        dedup.novelty_decay_curve_query,
        dedup.NOVELTY_DECAY_CURVE_ORACLE,
    )
    register(
        "anova_source_lengths",
        inference.anova_source_lengths_query,
        inference.ANOVA_SOURCE_LENGTHS_ORACLE,
    )
    register(
        "kruskal_wallis_sources",
        inference.kruskal_wallis_sources_query,
        inference.KRUSKAL_WALLIS_SOURCES_ORACLE,
    )
    register(
        "brown_forsythe_lengths",
        inference.brown_forsythe_lengths_query,
        inference.BROWN_FORSYTHE_LENGTHS_ORACLE,
    )
    register(
        "page_hinkley_drift",
        drift.page_hinkley_drift_query,
        drift.PAGE_HINKLEY_DRIFT_ORACLE,
    )
    register(
        "friedman_event_mix",
        inference.friedman_event_mix_query,
        inference.FRIEDMAN_EVENT_MIX_ORACLE,
    )
    register(
        "wilcoxon_signed_rank",
        inference.wilcoxon_signed_rank_query,
        inference.WILCOXON_SIGNED_RANK_ORACLE,
    )
    register(
        "simplified_silhouette",
        similarity.simplified_silhouette_query,
        similarity.SIMPLIFIED_SILHOUETTE_ORACLE,
    )
    register(
        "centroid_shift_drift",
        similarity.centroid_shift_drift_query,
        similarity.CENTROID_SHIFT_DRIFT_ORACLE,
    )
    register(
        "sample_size_epsilon_plan",
        sampling.sample_size_epsilon_plan_query,
        sampling.SAMPLE_SIZE_EPSILON_PLAN_ORACLE,
    )
    register(
        "label_anisotropy_audit",
        retrieval.label_anisotropy_audit_query,
        retrieval.LABEL_ANISOTROPY_AUDIT_ORACLE,
    )
    register(
        "interarrival_burstiness",
        inference.interarrival_burstiness_query,
        inference.INTERARRIVAL_BURSTINESS_ORACLE,
    )
    register(
        "nzv_dimension_audit",
        retrieval.nzv_dimension_audit_query,
        retrieval.NZV_DIMENSION_AUDIT_ORACLE,
    )
    register(
        "theil_sen_ci",
        inference.theil_sen_ci_query,
        inference.THEIL_SEN_CI_ORACLE,
    )
    register(
        "gate_ordering_cost_plan",
        curation.gate_ordering_cost_plan_query,
        curation.GATE_ORDERING_COST_PLAN_ORACLE,
    )
    register(
        "lorenz_curve_points",
        segmentation.lorenz_curve_points_query,
        segmentation.LORENZ_CURVE_POINTS_ORACLE,
    )
    register(
        "new_vs_returning_daily",
        an.new_vs_returning_daily_query,
        an.NEW_VS_RETURNING_DAILY_ORACLE,
    )
    register(
        "js_source_drift",
        drift.js_source_drift_query,
        drift.JS_SOURCE_DRIFT_ORACLE,
    )
    register(
        "good_turing_unseen",
        lexstats.good_turing_unseen_query,
        lexstats.GOOD_TURING_UNSEEN_ORACLE,
    )
    register(
        "cross_correlation_lags",
        inference.cross_correlation_lags_query,
        inference.CROSS_CORRELATION_LAGS_ORACLE,
    )
    register(
        "sprt_daily_decision",
        inference.sprt_daily_decision_query,
        inference.SPRT_DAILY_DECISION_ORACLE,
    )
    register(
        "cuped_uplift",
        drift.cuped_uplift_query,
        drift.CUPED_UPLIFT_ORACLE,
    )
    register(
        "hill_tail_index",
        lexstats.hill_tail_index_query,
        lexstats.HILL_TAIL_INDEX_ORACLE,
    )
    register(
        "psi_drift_score",
        dq.psi_drift_score_query,
        dq.PSI_DRIFT_SCORE_ORACLE,
    )
    register(
        "did_uplift",
        drift.did_uplift_query,
        drift.DID_UPLIFT_ORACLE,
    )
    register(
        "burrows_delta",
        lexstats.burrows_delta_query,
        lexstats.BURROWS_DELTA_ORACLE,
    )
    register(
        "revenue_attribution",
        an.revenue_attribution_query,
        an.REVENUE_ATTRIBUTION_ORACLE,
    )
    register(
        "audience_overlap",
        an.audience_overlap_query,
        an.AUDIENCE_OVERLAP_ORACLE,
    )
    register(
        "token_entropy",
        lexstats.token_entropy_query,
        lexstats.TOKEN_ENTROPY_ORACLE,
    )
    register(
        "qq_shift_profile",
        inference.qq_shift_profile_query,
        inference.QQ_SHIFT_PROFILE_ORACLE,
    )
    register(
        "logrank_cohorts",
        inference.logrank_cohorts_query,
        inference.LOGRANK_COHORTS_ORACLE,
    )
    register(
        "smd_balance_audit",
        drift.smd_balance_audit_query,
        drift.SMD_BALANCE_AUDIT_ORACLE,
    )
    register(
        "littles_law_audit",
        an.littles_law_audit_query,
        an.LITTLES_LAW_AUDIT_ORACLE,
    )
    register(
        "binseg_changepoints",
        stats.binseg_changepoints_query,
        stats.BINSEG_CHANGEPOINTS_ORACLE,
    )
    register(
        "discount_elasticity",
        trade.discount_elasticity_query,
        trade.DISCOUNT_ELASTICITY_ORACLE,
    )
    register(
        "cust_order_dist",
        trade.cust_order_dist_query,
        trade.CUST_ORDER_DIST_ORACLE,
    )
    register(
        "promo_revenue_share",
        trade.promo_revenue_share_query,
        trade.PROMO_REVENUE_SHARE_ORACLE,
    )
    register(
        "small_qty_revenue",
        trade.small_qty_revenue_query,
        trade.SMALL_QTY_REVENUE_ORACLE,
    )
    register(
        "branded_basket_revenue",
        trade.branded_basket_revenue_query,
        trade.BRANDED_BASKET_REVENUE_ORACLE,
    )
    register(
        "davies_bouldin",
        similarity.davies_bouldin_query,
        similarity.DAVIES_BOULDIN_ORACLE,
    )
    register(
        "activity_streaks",
        an.activity_streaks_query,
        an.ACTIVITY_STREAKS_ORACLE,
    )
    register(
        "fulfillment_lag",
        trade.fulfillment_lag_query,
        trade.FULFILLMENT_LAG_ORACLE,
    )
    register(
        "tail_token_share",
        lexstats.tail_token_share_query,
        lexstats.TAIL_TOKEN_SHARE_ORACLE,
    )
    register(
        "log_odds_terms",
        lexstats.log_odds_terms_query,
        lexstats.LOG_ODDS_TERMS_ORACLE,
    )
    register(
        "lexicon_gate_audit",
        textops.lexicon_gate_audit_query,
        textops.LEXICON_GATE_AUDIT_ORACLE,
    )
    register(
        "weighted_median_price",
        stats.weighted_median_price_query,
        stats.WEIGHTED_MEDIAN_PRICE_ORACLE,
    )
    register(
        "participation_ratio",
        pca.participation_ratio_query,
        pca.PARTICIPATION_RATIO_ORACLE,
    )

    register(
        "codec_moments",
        codec.codec_moments_query,
        codec.CODEC_MOMENTS_ORACLE,
        family="codec",
    )
    register(
        "codec_audit",
        codec.codec_audit_query,
        codec.CODEC_AUDIT_ORACLE,
        family="codec",
    )

    _apply_window(_WINDOW_R12)
    _LOADED = True

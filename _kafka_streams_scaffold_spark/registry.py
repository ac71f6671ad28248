'''Central query registry: every implemented operator from SURVEY.md §2
(plus the beyond-reference training-data ops) gets

- a ``queries()`` entry: ``name -> (spark, sf_dir) -> DataFrame``
- where SQL-expressible, an ``oracle_sql()`` entry: equivalent DuckDB
  SQL over the same parquet tables (views pre-registered by the driver).

Column names are aliased identically on both sides — the driver's
compare sorts columns by name before hashing values.

Each query is declared once, at its definition in ``operators/``, with
the ``@query()`` decorator: its name, the module attribute that holds
its oracle, and its shared-pin family. The decorator only marks the
function. ``_ensure_loaded`` collects the marks, so importing an
operator module registers nothing and cannot reorder the slots.

REGISTRATION ORDER IS LOAD-BEARING: the driver's correctness gate
hash-checks the FIRST 50 registered queries each round, so the window
rotates each round toward queries that have never had a driver
CORRECTNESS row. Earlier windows live in git history and in the
CORRECTNESS_r*.json rows they produced.

Run order is stated once: ``_apply_window`` puts the window's names in
slots 0-49 and every other query follows in declaration order: the
modules in ``_MODULES`` order, and each module's queries in the order
they are defined.

SHARED-PIN FAMILIES are declared in the same place: each query that
reads a family's ``pinning.shared_pin`` roots says so with
``@query(family=...)``. ``blocks()`` turns the declaration into run
order: all of a family's members run together at its first member's
slot, so bench.py opens one outer ``pinning.scope()`` per family and
every shared pin a member builds is warm for the rest of the family.
Slot order plays no part in pin reuse.

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

import importlib
import inspect
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
_FAMILY: dict[str, str] = {}

# The operator modules whose @query() functions are registered. Outside
# the window, this order is slot order.
_MODULES = (
    "analytics",
    "basket",
    "bpe",
    "changelog",
    "chunking",
    "clustering",
    "codec",
    "curation",
    "dedup",
    "dq",
    "drift",
    "features",
    "inference",
    "layout",
    "lexstats",
    "linkage",
    "lm",
    "mapvalues",
    "multimodal",
    "nb",
    "pca",
    "pq",
    "purchases",
    "quantize",
    "rangejoin",
    "retrieval",
    "sampling",
    "segmentation",
    "similarity",
    "sketches",
    "skew",
    "spectral",
    "stats",
    "subqueries",
    "substring_dedup",
    "temporal",
    "textops",
    "trade",
    "wordcount",
)


@dataclass(frozen=True)
class Declaration:
    """What ``@query()`` records on a query function."""

    name: str
    # An attribute of the function's module holding the DuckDB oracle
    # SQL, or a function returning it; None for a rows-only query.
    oracle: str | None
    family: str | None


_DEFAULT_ORACLE = object()


def query(
    *,
    name: str | None = None,
    oracle: str | None | object = _DEFAULT_ORACLE,
    family: str | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Declare the decorated ``<stem>_query`` function a registered query.

    ``name`` defaults to ``<stem>``. ``oracle`` is the NAME of the
    module attribute holding the query's oracle and defaults to
    ``<STEM>_ORACLE``: the oracle constants sit below their functions,
    so the registry looks the name up when it loads, and a missing one
    raises there. ``oracle=None`` declares a rows-only query.
    ``family`` names the shared-pin family the query belongs to: the
    family's members run as one block (``blocks()``) and read each
    other's shared pins warm.

    Returns the function unchanged; nothing is registered until the
    registry loads.
    """

    def declare(fn: QueryFn) -> QueryFn:
        stem = fn.__name__.removesuffix("_query")
        fn.declaration = Declaration(
            name or stem,
            f"{stem.upper()}_ORACLE" if oracle is _DEFAULT_ORACLE else oracle,
            family,
        )
        return fn

    return declare


def register(
    name: str,
    fn: QueryFn,
    oracle: str | None = None,
    *,
    family: str | None = None,
) -> None:
    """Register a query (and optionally its DuckDB oracle and its
    shared-pin family) under ``name``.

    Duplicate names RAISE: last-write-wins silently shadowed the
    long-certified ``small_qty_revenue`` in round 8 (two different Q17
    variants under one name — historical CORRECTNESS/bench rows then
    referred to a different computation).
    """
    if name in _QUERIES:
        raise ValueError(f"duplicate query registration {name!r}")
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


def _declare(modules: Iterable[ModuleType]) -> None:
    """Register the ``@query()`` functions of ``modules``: module by
    module, each module's in definition order."""
    for module in modules:
        for fn in vars(module).values():
            # a declared function imported from another module is
            # registered with that module, not again here
            if not inspect.isfunction(fn) or fn.__module__ != module.__name__:
                continue
            decl = getattr(fn, "declaration", None)
            if decl is None:
                continue
            oracle = None
            if decl.oracle is not None:
                oracle = getattr(module, decl.oracle)
                if callable(oracle):  # a helper that fills a template
                    oracle = oracle()
            register(decl.name, fn, oracle, family=decl.family)


def _ensure_loaded() -> None:
    global _LOADED
    if _LOADED:
        return
    _declare(
        importlib.import_module(f"{__package__}.operators.{m}") for m in _MODULES
    )
    _apply_window(_WINDOW_R12)
    _LOADED = True

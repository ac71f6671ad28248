"""Physical-plan assertions used by tests and scale audits.

These parse ``df.explain("formatted")`` output — the same thing a
human checks by eye — so regressions in pushdown/broadcast/pruning
fail tests instead of silently costing a full scan at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from .. import pinning


def explain_str(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", explain_str(df)):
        if m.group(1).strip():
            out.extend(p.strip() for p in m.group(1).split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each parquet scan (pruning check)."""
    schemas = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", explain_str(df)):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        schemas.append(cols)
    return schemas


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def reads_pinned(tree_text: str) -> bool:
    """True when the plan reads a pinned (materialized) table instead
    of re-deriving it — STRICT persist-mode check (``InMemoryTableScan``
    only). Round-12 (r11 ADVICE): the checkpoint-mode fallback of
    accepting any ``Scan ExistingRDD`` leaf was vacuous — every
    localCheckpoint (e.g. clustering's iteration checkpoints) and
    createDataFrame renders the same leaf, so a query that stopped
    reading its pinned artifact could still pass. Plan-shape tests
    that assert on pins now run under ``pinning.full_lineage()`` so
    pins render distinguishably; called outside it, this raises
    instead of answering False for every plan."""
    if pinning._TRUNCATE:
        raise RuntimeError(
            "reads_pinned needs persist-backed pins: build and check the "
            "plan inside pinning.full_lineage()"
        )
    return "InMemoryTableScan" in tree_text


def tree(df: DataFrame, elide_cached: bool = True) -> str:
    """Just the numbered plan tree (formatted explain repeats every
    node header in the details section — counting on the full string
    double-counts). Cached-relation BUILD plans are elided: formatted
    explain inlines the full child tree under every InMemoryRelation,
    so a query composing several pinned artifacts would repeat each
    artifact's plan at every reference (measured 21k lines for
    dedup_tier_agreement) — the artifact's own plan is audited where
    it is built. Pass ``elide_cached=False`` to keep the expansions
    (plan tests that count scans THROUGH a pinned artifact need
    them).

    Elision is reliable only on UN-EXECUTED plans (what every plan
    test here audits). An executed AQE plan renders '* ' codegen
    stars and QueryStage roots on legitimate OUTER-tree lines too, so
    the resume guards can swallow a real sibling (e.g. a
    BroadcastQueryStage) and leak '== Initial Plan ==' fragments —
    call tree() before any action triggers execution, or pass
    ``elide_cached=False``."""
    text = explain_str(df).split("\n\n", 1)[0]
    if not elide_cached:
        return text
    out: list[str] = []
    # While skipping a cached block, `open_cols` holds the ':'
    # continuation columns of the relation line's OWN prefix — the
    # outer tree's open left branches. The outer tree resumes exactly
    # at the next sibling of the deepest open branch: tree art at
    # that column, ':' at every shallower open column, nothing else
    # in the prefix. Cached-block bodies (printed in simple format at
    # a column anchored to the relation, sometimes SHALLOWER than the
    # relation's art) can never reproduce that ':' pattern, and pure
    # indent rules fail in both directions: requiring a ':' in the
    # prefix swallows last-child siblings (truncating the tree and
    # making "X not in tree" assertions vacuous), while indent-only
    # leaks fragment bodies of deeply nested relations. If the
    # relation line has NO open branches, its subtree is the tail of
    # the whole tree and the rest is all cached block.
    open_cols: list[int] | None = None
    art_re = re.compile(r"^((?: {3}|:  )*)([+:]-)")
    for line in text.split("\n"):
        if open_cols is not None:
            if not open_cols:
                continue
            m = art_re.match(line)
            body = line[m.end() :].lstrip() if m else ""
            resumed = (
                m is not None
                and len(m.group(1)) == open_cols[-1]
                and all(line[c] == ":" for c in open_cols[:-1])
                # codegen stars appear in TWO renderings (r10 ADVICE):
                # simple-format cached blocks as '*(n) Node' (no
                # space) and, on executed/cached plans inlined in
                # formatted style, as '* Node (id)' (star+space) — and
                # an EXECUTED outer tree carries '* ' stars on its own
                # lines too. The bare-star prefix match covers both
                # renderings, which keeps elision correct for the
                # PRE-EXECUTION plans this module's tests audit; on an
                # executed AQE plan tree() may still mis-resume (a
                # legitimate starred sibling is indistinguishable from
                # a cached-block line), so elision is only reliable on
                # un-executed plans — see tree()'s docstring.
                and not body.startswith("*")
                # ...nor fragment headers / AQE query-stage roots —
                # the only node kinds a cached block can place at a
                # shallow column (belt for the single-open-branch
                # case, where the ':' pattern check above is vacuous)
                and not body.startswith("== ")
                and not body.split(" ", 1)[0].endswith("QueryStage")
            )
            if not resumed:
                continue
            open_cols = None
        out.append(line)
        if "InMemoryRelation" in line:
            m = art_re.match(line)
            prefix = line[: m.end(1)] if m else ""
            open_cols = [i for i, ch in enumerate(prefix) if ch == ":"]
            # a ':-' relation has a pending sibling at its own column
            if m and m.group(2) == ":-":
                open_cols.append(len(prefix))
            out.append(
                " " * (len(prefix) + 6)
                + "+- ... (cached build plan elided; see the "
                "artifact's own entry)"
            )
    return "\n".join(out)

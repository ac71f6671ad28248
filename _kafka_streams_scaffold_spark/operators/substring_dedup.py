"""Exact-substring duplicate detection (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better").

MinHash/SimHash (operators/dedup.py) catch *whole-document* near
duplicates; they miss the other dominant corpus pathology — a long
VERBATIM span (boilerplate header, license block, quoted article)
pasted into otherwise-different documents. The published remedy finds
every repeated substring of length >= W across the corpus. The
reference implementation builds one giant suffix array; that is a
single-machine design. The Spark-first equivalent is the rolling-window
form of the same predicate:

    a length-W window repeats across documents
      <=> the documents share an exact substring of length >= W

so sliding every doc into its n_chars - W + 1 windows and grouping by
window value finds exactly the repeated spans (a shared span of length
L >= W produces L - W + 1 matching windows — the span is recoverable
from the window offsets, and the *detector* needs only existence).

Scale shape: window generation is a per-row ``transform(sequence(...))``
— codegen'd, no Python, no shuffle. The ONE shuffle groups by window
text: payload is (W-char string, doc_id), i.e. ~W x corpus-chars bytes.
That is the same asymptotic cost as the suffix-array build, but
embarrassingly parallel, partial-aggregated map-side (duplicated
windows collapse per partition before the exchange), and AQE-splittable
when one window (e.g. a whitespace run) is hot. The candidate emission
is per-WINDOW counts, never per-pair, so a window shared by 10^5 docs
costs one row, not 10^10 pairs — the fan-out trap the n-gram Jaccard
tier caps with SHINGLE_DF_CAP does not exist here by construction.

No reference analog (the Kafka Streams scaffold has no dedup surface);
north-star addition per SURVEY.md §2.8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..registry import query

WINDOW_CHARS = 24  # min shared-span length the detector certifies
MIN_DOCS = 2


def _windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w): every length-WINDOW_CHARS character window of every
    normalized document, deduplicated per doc. The per-doc dedup is
    ``array_distinct`` BEFORE the explode — entirely map-side, inside
    the same codegen stage as window generation — rather than a
    ``.distinct()`` on the exploded stream, which would shuffle the
    full window mass a second time just to deduplicate rows that are
    already co-located by construction."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    # Docs shorter than W have no windows. The explicit filter (not
    # sequence(1, greatest(.., 0))) matters under Spark semantics:
    # sequence(1, 0) is the DESCENDING [1, 0], not empty like DuckDB's
    # generate_series(1, 0), and would emit a spurious short window.
    return docs.filter(
        F.length(F.lower("text")) >= WINDOW_CHARS
    ).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(lower(text)) - {WINDOW_CHARS - 1}),"
                    f" i -> substring(lower(text), i, {WINDOW_CHARS}))"
                )
            )
        ).alias("w"),
    )


@query()
def shared_substrings_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, n_docs, min_doc_id): every length-W window occurring in >=
    MIN_DOCS distinct documents — the verbatim-span duplicate index.
    min_doc_id anchors each span family to a canonical earliest doc."""
    return (
        _windows(spark, sf_dir)
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= MIN_DOCS)
    )


SHARED_SUBSTRINGS_ORACLE = f"""
WITH wins AS (
  SELECT DISTINCT doc_id, substring(lower(text), i, {WINDOW_CHARS}) AS w
  FROM documents,
       LATERAL (SELECT unnest(generate_series(
           1, greatest(length(lower(text)) - {WINDOW_CHARS - 1}, 0))) AS i) t
)
SELECT w, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM wins GROUP BY w HAVING count(*) >= {MIN_DOCS}
"""


@query()
def substring_dup_docs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shared_windows, max_window_docs): documents carrying
    at least one cross-doc verbatim span, with how many of their
    windows are shared and the widest sharing fan-out — the per-doc
    flag a curation pass keys its drop/trim decision on. Second
    aggregation joins the (small) repeated-window index back onto the
    window stream; both shuffles key on the window text."""
    wins = _windows(spark, sf_dir)
    shared = (
        wins.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= MIN_DOCS)
    )
    return (
        wins.join(shared, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared_windows"),
            F.max("n_docs").alias("max_window_docs"),
        )
    )


SUBSTRING_DUP_DOCS_ORACLE = f"""
WITH wins AS (
  SELECT DISTINCT doc_id, substring(lower(text), i, {WINDOW_CHARS}) AS w
  FROM documents,
       LATERAL (SELECT unnest(generate_series(
           1, greatest(length(lower(text)) - {WINDOW_CHARS - 1}, 0))) AS i) t
),
shared AS (
  SELECT w, count(*) AS n_docs
  FROM wins GROUP BY w HAVING count(*) >= {MIN_DOCS}
)
SELECT doc_id, count(*) AS n_shared_windows, max(n_docs) AS max_window_docs
FROM wins JOIN shared USING (w)
GROUP BY doc_id
"""

# --------------------------------------------------------------------------
# Multi-width span profile (round 8): how shared-span mass decays with W
# --------------------------------------------------------------------------

SPAN_WIDTHS = [24, 48, 96]


@query()
def multiwidth_span_profile_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(width, n_rows, n_values, n_shared_values, n_shared_rows,
    shared_row_frac): the repeated-span profile at widths 24/48/96 in
    ONE plan — for each window width, how many distinct (doc, window)
    rows exist, how many window VALUES repeat across documents, and
    what fraction of the window mass those shared values cover. The
    decay of shared_row_frac with width is the "how long are the
    verbatim spans really" curve that picks the dedup W: a fraction
    that holds up at 96 chars means long boilerplate blocks (trim
    spans), one that collapses past 24 means short idiom overlap
    (leave it alone). Extends ``shared_substrings``' single fixed
    width to the width DIMENSION (round-7 verdict suggestion).

    One corpus scan: the width axis enters as an exploded 3-literal
    array BEFORE window generation, so all three widths share the
    same scan/normalization and differ only in the codegen'd
    transform. Window values are per-doc deduplicated map-side
    (array_distinct before explode, the _windows contract). All
    counts exact BIGINTs; the fraction is one final division.

    Scale: total window mass is sum over widths of ~corpus chars —
    3x the single-width detector, still linear; the one shuffle
    groups by (width, window-text), partial-aggregated map-side,
    AQE-splittable on hot windows."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    widths = F.explode(
        F.array(*[F.lit(w) for w in SPAN_WIDTHS])
    ).alias("width")
    wins = (
        docs.select("doc_id", F.lower("text").alias("txt"), widths)
        .filter(F.length("txt") >= F.col("width"))
        .select(
            "doc_id",
            "width",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, length(txt) - (width - 1)),"
                        " i -> substring(txt, i, width))"
                    )
                )
            ).alias("w"),
        )
    )
    per_val = wins.groupBy("width", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return per_val.groupBy("width").agg(
        F.sum("n_docs").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.sum((F.col("n_docs") >= MIN_DOCS).cast("int"))
        .cast("bigint")
        .alias("n_shared_values"),
        F.sum(F.when(F.col("n_docs") >= MIN_DOCS, F.col("n_docs"))
              .otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_shared_rows"),
    ).select(
        "width",
        "n_rows",
        "n_values",
        "n_shared_values",
        "n_shared_rows",
        (
            F.col("n_shared_rows").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("shared_row_frac"),
    )


MULTIWIDTH_SPAN_PROFILE_ORACLE = f"""
WITH wins AS (
  SELECT DISTINCT d.doc_id, ws.width,
         substring(lower(d.text), t.i, ws.width) AS w
  FROM documents d
  CROSS JOIN (SELECT unnest([{", ".join(str(w) for w in SPAN_WIDTHS)}])
              AS width) ws,
       LATERAL (SELECT unnest(generate_series(
           1, greatest(length(lower(d.text)) - (ws.width - 1), 0))) AS i) t
),
per_val AS (
  SELECT width, w, CAST(count(*) AS BIGINT) AS n_docs
  FROM wins GROUP BY 1, 2
)
SELECT width,
       CAST(sum(n_docs) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_values,
       CAST(sum(CASE WHEN n_docs >= {MIN_DOCS} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_shared_values,
       CAST(sum(CASE WHEN n_docs >= {MIN_DOCS} THEN n_docs ELSE 0 END)
         AS BIGINT) AS n_shared_rows,
       CAST(sum(CASE WHEN n_docs >= {MIN_DOCS} THEN n_docs ELSE 0 END)
           AS DOUBLE)
         / CAST(sum(n_docs) AS DOUBLE) AS shared_row_frac
FROM per_val GROUP BY 1
"""

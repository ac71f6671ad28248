"""Fellegi-Sunter probabilistic record-linkage scoring.

Near-dup detection (operators/dedup.py) answers "are these two TEXTS
the same?"; entity resolution asks the weaker, field-structured
question "do these two RECORDS describe the same entity?". The
standard model (Fellegi & Sunter 1969, the backbone of Splink /
RecordLinkage / production MDM systems) scores a candidate pair by a
sum of per-field log-likelihood weights:

    w_f(agree)    = ln(m_f / u_f)
    w_f(disagree) = ln((1 - m_f) / (1 - u_f))

where m_f = P(field f agrees | same entity) — an analyst prior here,
as in every un-labeled deployment — and u_f = P(field f agrees |
different entities), which IS estimable from the data alone: for a
uniformly random pair, u_f = sum_v c_v^2 / n^2 over the field's value
histogram. High-cardinality fields (text prefix) get tiny u and
therefore large agreement weights; low-cardinality fields (language)
contribute little — exactly the discriminative-power weighting that
makes FS better than counting matching fields.

Candidate generation is NOT all-pairs: it reuses the MinHash-LSH
candidate tier (dedup.minhash_lsh_pairs), so the FS layer prices each
already-blocked candidate pair — the composition a production linkage
pipeline runs (block -> score -> clerical-review band).

Cross-engine determinism: u_f numerators/denominators are exact
BIGINT counts; m_f are exact rationals (M_NUM/M_DEN). Each weight is
fixed-pointed as floor(1e6 * ln(exact-int product / exact-int
product)) — the lm.py contract — so per-pair scores are exact integer
sums; ln sees bit-identical correctly-rounded double ratios on both
engines.

Scale: the field-statistics pass is one value-histogram rollup per
field (vocabulary-sized shuffles, partial-aggregated); the weight
table is |fields| rows (broadcast); scoring touches only candidate
pairs (LSH-bounded, never quadratic) joined twice against the
doc-attribute projection — (doc_id, 4 narrow cols), the full text
never moves. At 100 TB every stage is the same plan with bigger
constants; nothing is pair-quadratic or driver-side.

No reference analog (the Kafka Streams scaffold has no linkage
surface); beyond-reference addition per SURVEY.md §2.8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..registry import query
from .dedup import MINHASH_LSH_ORACLE, minhash_lsh_pairs_query

# Analyst-prior m-probabilities as exact rationals over M_DEN.
M_DEN = 100
_FIELDS = [
    # (name, bit, m_numerator): m = P(agree | match)
    ("lang", 1, 95),
    ("source", 2, 90),
    ("len_b", 4, 80),
    ("pfx", 8, 99),
]

LEN_BUCKET = 256  # chars per length-agreement bucket
PFX_CHARS = 12  # normalized-prefix agreement field

# floor(1e6 * ln((mn * den) / (md * num))): agreement weight on exact
# integers; both double products are correctly rounded with a fixed
# operand order (the lm.py _LN_FP contract).
_W_SPARK = (
    "cast(floor(1e6 * ln((cast({mn} as double) * cast({den} as double))"
    " / (cast({md} as double) * cast({num} as double)))) as bigint)"
)
_W_DUCK = (
    "CAST(floor(1e6 * ln((CAST({mn} AS DOUBLE) * CAST({den} AS DOUBLE))"
    " / (CAST({md} AS DOUBLE) * CAST({num} AS DOUBLE)))) AS BIGINT)"
)


def _attr_exprs() -> dict[str, str]:
    """Field expressions shared (modulo dialect-identical SQL) by both
    engines; every one is null-free on the documents schema."""
    return {
        "lang": "lang",
        "source": "source",
        "len_b": f"n_chars {{div}} {LEN_BUCKET}",
        "pfx": f"substring(lower(text), 1, {PFX_CHARS})",
    }


@query(oracle="FS_LINKAGE_ORACLE", family="dedup")
def fs_linkage_scores_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, agree_mask, fs_score): every MinHash-LSH
    candidate pair scored with the Fellegi-Sunter sum of per-field
    log-likelihood weights; agree_mask is the agreement bit-vector
    (lang=1, source=2, length-bucket=4, text-prefix=8). fs_score is
    in nats: positive means the agreement pattern is likelier under
    "same entity" than under "random pair"."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    exprs = _attr_exprs()
    attrs = docs.select(
        "doc_id",
        *[
            F.expr(e.format(div="div")).alias(n)
            for n, e in exprs.items()
        ],
    )

    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # Per-field u statistics: num = sum of squared value counts,
    # den = n^2. One vocabulary-sized rollup per field.
    stat_parts = []
    for name, bit, mn in _FIELDS:
        hist = attrs.groupBy(F.col(name).alias("v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        stat_parts.append(
            hist.agg(
                F.lit(name).alias("field"),
                F.lit(bit).cast("int").alias("bit"),
                F.lit(mn).cast("bigint").alias("mn"),
                F.sum(F.col("c") * F.col("c")).cast("bigint").alias("num"),
            )
        )
    stats = stat_parts[0]
    for p in stat_parts[1:]:
        stats = stats.unionAll(p)
    weights = (
        stats.crossJoin(F.broadcast(n_docs))
        .select(
            "field",
            "bit",
            F.expr(
                _W_SPARK.format(mn="mn", den="n * n", md=M_DEN, num="num")
            ).alias("w_agree_fp"),
            F.expr(
                _W_SPARK.format(
                    mn=f"{M_DEN} - mn",
                    den="n * n",
                    md=M_DEN,
                    num="n * n - num",
                )
            ).alias("w_disagree_fp"),
        )
    )

    cand = minhash_lsh_pairs_query(spark, sf_dir).select("doc_a", "doc_b")
    a = attrs.alias("a")
    b = attrs.alias("b")
    paired = (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(b, F.col("doc_b") == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("field"),
                            (F.col(f"a.{name}") == F.col(f"b.{name}"))
                            .cast("int")
                            .alias("agree"),
                        )
                        for name, _, _ in _FIELDS
                    ]
                )
            ).alias("f"),
        )
        .select("doc_a", "doc_b", "f.field", "f.agree")
    )
    return (
        paired.join(F.broadcast(weights), "field")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("agree") * F.col("bit")).cast("int").alias(
                "agree_mask"
            ),
            F.sum(
                F.when(F.col("agree") == 1, F.col("w_agree_fp")).otherwise(
                    F.col("w_disagree_fp")
                )
            ).alias("sum_fp"),
        )
        .select(
            "doc_a",
            "doc_b",
            "agree_mask",
            (F.col("sum_fp").cast("double") / F.lit(1000000.0)).alias(
                "fs_score"
            ),
        )
    )


def _fs_oracle() -> str:
    exprs = _attr_exprs()
    attr_sql = ", ".join(
        f"{e.format(div='//')} AS {n}" for n, e in exprs.items()
    )
    hists = " UNION ALL ".join(
        f"SELECT '{name}' AS field, {bit} AS bit, CAST({mn} AS BIGINT) AS mn,"
        f" CAST(sum(c * c) AS BIGINT) AS num FROM ("
        f"SELECT count(*) AS c FROM attrs GROUP BY {name})"
        for name, bit, mn in _FIELDS
    )
    field_rows = " UNION ALL ".join(
        f"SELECT doc_a, doc_b, '{name}' AS field,"
        f" CAST(a.{name} = b.{name} AS INT) AS agree"
        " FROM cand JOIN attrs a ON a.doc_id = cand.doc_a"
        " JOIN attrs b ON b.doc_id = cand.doc_b"
        for name, _, _ in _FIELDS
    )
    w_agree = _W_DUCK.format(mn="mn", den="n * n", md=M_DEN, num="num")
    w_dis = _W_DUCK.format(
        mn=f"{M_DEN} - mn", den="n * n", md=M_DEN, num="n * n - num"
    )
    return f"""
WITH attrs AS (
  SELECT doc_id, {attr_sql} FROM documents
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
stats AS ({hists}),
weights AS (
  SELECT field, bit, {w_agree} AS w_agree_fp, {w_dis} AS w_disagree_fp
  FROM stats CROSS JOIN nn
),
cand AS (
  SELECT doc_a, doc_b FROM (
{MINHASH_LSH_ORACLE}
  )
),
fields AS ({field_rows})
SELECT doc_a, doc_b,
       CAST(sum(agree * bit) AS INT) AS agree_mask,
       CAST(sum(CASE WHEN agree = 1 THEN w_agree_fp
                     ELSE w_disagree_fp END) AS DOUBLE) / 1000000.0
         AS fs_score
FROM fields JOIN weights USING (field)
GROUP BY doc_a, doc_b
"""


FS_LINKAGE_ORACLE = _fs_oracle()


# --------------------------------------------------------------------------
# Entity resolution: components over FS matches + canonicalization
# --------------------------------------------------------------------------

FS_MATCH_MIN_FP = 0  # match decision: fs_score > 0 (likelier same entity)


@query(family="dedup")
def linkage_entities_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(entity_id, n_members, n_sources, max_score): the LAST step of
    the record-linkage pipeline — pairwise Fellegi-Sunter match
    decisions (fs_score > 0) folded into ENTITIES by connected
    components, each entity canonicalized (id = min member doc_id)
    with its membership size, source spread, and strongest pairwise
    evidence. fs_linkage_scores answers "are these two the same?";
    this answers "what are the things?" — the deliverable an ER
    pipeline actually ships. Only multi-member entities are emitted
    (singletons are every unmatched doc, definitionally).

    Scale: edges are the already-candidate-bounded FS match pairs;
    components run the shared min-label/pointer-jumping engine
    (O(E) per round, ~log diameter rounds, localCheckpoint — see
    operators/clustering.connected_components); the canonicalization
    is one id-width rollup joined back to documents for source."""
    from .clustering import connected_components

    docs = tables.table(spark, sf_dir, "documents")
    scores = fs_linkage_scores_query(spark, sf_dir)
    matches = scores.filter(
        F.col("fs_score") > F.lit(FS_MATCH_MIN_FP).cast("double")
    )
    edges = matches.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    nodes = docs.select("doc_id")
    comp = connected_components(nodes, edges)
    # strongest evidence per entity: tag each matched pair with the
    # component of its (always co-component) left endpoint
    pair_comp = matches.join(
        comp.select(F.col("doc_id").alias("doc_a"), "cluster_id"), "doc_a"
    )
    evidence = pair_comp.groupBy("cluster_id").agg(
        F.max("fs_score").alias("max_score")
    )
    members = comp.join(
        docs.select("doc_id", "source"), "doc_id"
    ).groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    return (
        members.filter(F.col("n_members") > 1)
        .join(evidence, "cluster_id")
        .select(
            F.col("cluster_id").alias("entity_id"),
            "n_members",
            "n_sources",
            "max_score",
        )
    )


def _linkage_entities_oracle() -> str:
    fs = FS_LINKAGE_ORACLE.strip().rstrip(";")
    return f"""
WITH RECURSIVE scores AS MATERIALIZED (
  {fs}
),
matches AS MATERIALIZED (
  SELECT doc_a, doc_b, fs_score FROM scores
  WHERE fs_score > {FS_MATCH_MIN_FP}
),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM matches
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM matches
),
walk(doc_id, reach) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
),
comp AS MATERIALIZED (
  SELECT doc_id, min(reach) AS cluster_id FROM walk GROUP BY doc_id
),
evidence AS (
  SELECT c.cluster_id, max(m.fs_score) AS max_score
  FROM matches m JOIN comp c ON c.doc_id = m.doc_a
  GROUP BY 1
),
members AS (
  SELECT c.cluster_id,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
  FROM comp c JOIN documents d USING (doc_id)
  GROUP BY 1
)
SELECT m.cluster_id AS entity_id, m.n_members, m.n_sources, e.max_score
FROM members m JOIN evidence e ON e.cluster_id = m.cluster_id
WHERE m.n_members > 1
"""


LINKAGE_ENTITIES_ORACLE = _linkage_entities_oracle()

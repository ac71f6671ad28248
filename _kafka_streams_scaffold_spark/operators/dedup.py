"""Deduplication operators for training-data pipelines.

Four tiers, each the idiomatic Spark formulation of a published
technique (MinHash/LSH per Broder '97; SimHash per Charikar '02 as
used in Manku et al. WWW'07 for web dedup):

- exact:   hash-groupBy on a normalized fingerprint. One shuffle of
           (16-byte digest, doc_id) — never the full text.
- n-gram:  word-3-gram shingles + inverted-index join. The join is on
           the *shingle* (the classic candidate-pair generation), so
           cost is bounded by shingle co-occurrence, not |docs|^2.
- minhash: 32 md5-derived min-hashes, 8 bands x 4 rows, candidate
           pairs from band-bucket collisions, verified with exact
           jaccard. Scales to corpora where the shingle join is too
           hot: signatures are 32 ints/doc regardless of doc size.
- simhash: 32-bit weighted-token signature; near-dup pairs block on
           5 bands (pigeonhole-complete: a pair within hamming
           distance d <= 4 shares at least one untouched band),
           verified by exact hamming distance.

Every hash is md5-derived (functions/xhash.py) so the DuckDB oracle
reproduces signatures bit-for-bit — the whole LSH pipeline is
oracle-checked, not just sampled.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pinning import parallel as _parallel
from ..pinning import pin as _pin
from ..pinning import shared_pin as _shared_pin
from ..registry import query
from .textops import fingerprint_expr

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

@query()
def exact_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group identical (normalized) texts; keep the smallest doc_id as
    the canonical representative."""
    docs = tables.table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", fingerprint_expr().alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


EXACT_DEDUP_ORACLE = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       min(doc_id) AS rep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Shared shingling
# --------------------------------------------------------------------------

SHINGLE_N = 3

# Tokenization is materialized as a column ONCE; the shingle transform
# references it. Inlining the filter(split(...)) into every element_at
# term makes Spark re-tokenize the document ~3x per shingle — measured
# >10x slowdown at sf0.1.
_SPARK_TOKS = r"filter(split(lower(text), '\\W+'), x -> x != '')"
_SPARK_SHINGLES = (
    f"case when size(toks) < {SHINGLE_N} then cast(array() as array<string>) "
    f"else transform(sequence(1, size(toks) - {SHINGLE_N - 1}), "
    "i -> concat_ws(' ', "
    + ", ".join(f"element_at(toks, i + {k})" for k in range(SHINGLE_N))
    + ")) end"
)

_DUCK_SHINGLE_CTE = f"""
tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
  FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id,
         unnest([{" || ' ' || ".join(f"toks[i + {k}]" for k in range(SHINGLE_N))}
                 for i in generate_series(1, len(toks) - {SHINGLE_N - 1})]) AS shingle
  FROM tok
  WHERE len(toks) >= {SHINGLE_N}
)"""


def shingles(docs: DataFrame) -> DataFrame:
    """Distinct word-3-gram shingles per document."""
    docs = tables.spread(docs, "doc_id")
    return docs.select("doc_id", F.expr(_SPARK_TOKS).alias("toks")).select(
        "doc_id", F.explode(F.array_distinct(F.expr(_SPARK_SHINGLES))).alias("shingle")
    )


def _pair_jaccard(shingle_df: DataFrame, candidates: DataFrame | None) -> DataFrame:
    """Exact jaccard for doc pairs sharing >=1 shingle (optionally
    restricted to a candidate set). The inverted-index join on the
    shingle is what keeps this sub-quadratic."""
    sizes = shingle_df.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    joinable = shingle_df
    if candidates is not None:
        # Prune BEFORE the self-join: only docs appearing in some
        # candidate pair participate. At scale this turns a corpus-wide
        # shingle join into one over the (tiny) candidate neighborhood.
        cand_docs = (
            candidates.select(F.col("doc_a").alias("doc_id"))
            .union(candidates.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        joinable = shingle_df.join(cand_docs, "doc_id", "left_semi")
    a = joinable.alias("a")
    b = joinable.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["doc_a", "doc_b"], "left_semi")
    na = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
    )
    nb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
    )
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# N-gram jaccard dedup (inverted-index join, exact)
# --------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.8

# Document-frequency cap on shingles entering the inverted-index
# self-join. The join is sub-quadratic only while no shingle is hot:
# a shingle appearing in df documents contributes df*(df-1)/2 pairs,
# so one boilerplate 3-gram in a million docs is a 5e11-row fan-out.
# Shingles that common carry no discriminative signal for near-dup
# detection (every production pipeline drops them — e.g. the
# "common substring" filters in Lee et al. '22 dedup); true dup
# clusters are orders of magnitude smaller than the cap, so recall on
# actual near-duplicates is unaffected. Per-key join fan-out is
# bounded at CAP*(CAP-1)/2 regardless of corpus size. Docs whose
# shingles are ALL hot drop out (pure-boilerplate docs — the exact
# and minhash tiers still see them).
SHINGLE_DF_CAP = 50


# ---- shared pinned artifacts --------------------------------------------
# The four near-dup tiers (minhash, ngram, containment, edit) all start
# from the same (doc_id, shingle) table, and three of them also share
# the minhash signature/candidate stages. Before round 4 each tier
# re-derived (re-scanned, re-tokenized, re-shingled) its own copy —
# dedup_tier_agreement paid the shingle scan 4x. These memoized pins
# make the derivation once per input per pin scope; the harnesses
# release the scope after each query (bench.py: after each family
# block), so solo-query measurements stay honest.


def _shingle_table(docs: DataFrame) -> DataFrame:
    return _shared_pin(("dedup.shingles", docs), lambda: shingles(docs))


def _capped_shingle_table(docs: DataFrame) -> DataFrame:
    return _shared_pin(
        ("dedup.capped_shingles", docs),
        lambda: df_capped_shingles(_shingle_table(docs)),
    )


def _signature_table(docs: DataFrame) -> DataFrame:
    return _shared_pin(
        ("dedup.minhash_sigs", docs),
        lambda: minhash_signatures(_shingle_table(docs)),
    )


def _candidate_table(docs: DataFrame) -> DataFrame:
    return _shared_pin(
        ("dedup.lsh_candidates", docs),
        lambda: lsh_candidates(_signature_table(docs)),
    )


def _capped_sizes_table(docs: DataFrame) -> DataFrame:
    """Per-doc shingle counts over the df-capped universe — consumed
    twice per scoring query (na and nb join sides) and by both the
    Jaccard and containment detectors."""
    return _shared_pin(
        ("dedup.capped_sizes", docs),
        lambda: _capped_shingle_table(docs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n")),
    )


def _capped_inter_table(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, i): the capped-shingle inverted-index self-join —
    the single most expensive dedup artifact. ngram Jaccard and
    Broder containment are different SCORES over this same pair
    table, so it materializes once per input per scope instead of
    each detector re-running the join."""
    sh = _capped_shingle_table(docs)
    a, b = sh.alias("a"), sh.alias("b")
    return _shared_pin(
        ("dedup.capped_inter", docs),
        lambda: a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("i")),
    )


def df_capped_shingles(shingle_df: DataFrame) -> DataFrame:
    """Drop shingles whose document frequency exceeds SHINGLE_DF_CAP.

    The hot-shingle set is tiny (heavy-hitters over a zipfian df
    distribution), so the anti-join broadcasts; sizes and
    intersections downstream are both computed on the capped set, so
    the jaccard stays a true jaccard over the capped shingle
    universe — identical on both engines."""
    hot = (
        shingle_df.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .select("shingle")
    )
    return shingle_df.join(F.broadcast(hot), "shingle", "left_anti")


@query(oracle="NGRAM_JACCARD_ORACLE", family="dedup")
def ngram_jaccard_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.table(spark, sf_dir, "documents")
    inter = _capped_inter_table(docs)
    sizes = _capped_sizes_table(docs)
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


NGRAM_JACCARD_ORACLE = f"""
WITH {_DUCK_SHINGLE_CTE},
capped AS (
  SELECT s.doc_id, s.shingle
  FROM shingles s
  JOIN (SELECT shingle FROM shingles
        GROUP BY 1 HAVING count(*) <= {SHINGLE_DF_CAP}) keep
    ON s.shingle = keep.shingle
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM capped a
  JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= {JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

N_HASHES = 32
N_BANDS = 8
ROWS_PER_BAND = N_HASHES // N_BANDS  # 4

# Universal hashing: ONE md5 per shingle reduced to a 28-bit base, then
# 32 affine transforms (a_j * base + b_j) mod p. Cuts the md5 count by
# 32x vs hashing per-seed; the affine family keeps the hashes pairwise
# independent enough for minhash. Constants are fixed at import so both
# engines (and every round) see identical signatures. Bounds: a < 2^31,
# base < 2^28 -> product < 2^59, no int64 overflow on either engine.
_MERSENNE_P = 2_147_483_647


def _affine_constants() -> list[tuple[int, int]]:
    import numpy as np

    rng = np.random.default_rng(7)
    return [
        (int(rng.integers(1, _MERSENNE_P)), int(rng.integers(0, _MERSENNE_P)))
        for _ in range(N_HASHES)
    ]


_AFFINE = _affine_constants()

_BASE_SPARK = "cast(conv(substring(md5(shingle), 1, 7), 16, 10) as bigint)"
_BASE_DUCK = "CAST('0x' || substring(md5(shingle), 1, 7) AS BIGINT)"


def minhash_signatures(shingle_df: DataFrame) -> DataFrame:
    """One row per doc: 32 min-hash values, computed in a single
    partial-aggregatable pass (32 `min` aggregates over the exploded
    shingles — no per-hash shuffle)."""
    hashed = shingle_df.select("doc_id", F.expr(_BASE_SPARK).alias("base"))
    aggs = [
        F.min(F.expr(f"({a} * base + {b}) % {_MERSENNE_P}")).alias(f"h{j}")
        for j, (a, b) in enumerate(_AFFINE)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _band_sig(seed0: int) -> F.Column:
    return F.concat_ws(
        ":", *[F.col(f"h{seed0 + k}").cast("string") for k in range(ROWS_PER_BAND)]
    )


def lsh_candidates(sigs: DataFrame) -> DataFrame:
    """Band the signatures; docs colliding in any band are candidates."""
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _band_sig(b * ROWS_PER_BAND).alias("sig"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


@query(oracle="MINHASH_LSH_ORACLE", family="dedup")
def minhash_lsh_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate generation + exact-jaccard verification.

    At 100 TB the shingle join inside verification only ever sees
    candidate pairs (left_semi pruned), and candidate generation
    shuffles 32 ints per doc — the full text never moves."""
    docs = tables.table(spark, sf_dir, "documents")
    sh = _shingle_table(docs)
    cand = _candidate_table(docs)
    return _pair_jaccard(sh, cand).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def _duck_band_rows() -> str:
    rows = []
    for b in range(N_BANDS):
        sig = " || ':' || ".join(
            f"CAST(h{b * ROWS_PER_BAND + k} AS VARCHAR)"
            for k in range(ROWS_PER_BAND)
        )
        rows.append(f"SELECT doc_id, {b} AS band, {sig} AS sig FROM sigs")
    return " UNION ALL ".join(rows)


MINHASH_LSH_ORACLE = f"""
WITH {_DUCK_SHINGLE_CTE},
hashed AS (
  SELECT doc_id, {_BASE_DUCK} AS base FROM shingles
),
sigs AS (
  SELECT doc_id,
         {", ".join(f"min(({a} * base + {b}) % {_MERSENNE_P}) AS h{j}" for j, (a, b) in enumerate(_AFFINE))}
  FROM hashed GROUP BY doc_id
),
bands AS ({_duck_band_rows()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= {JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 32
HAMMING_THRESHOLD = 4
# 5 bands (widths 7,7,6,6,6): a pair within hamming distance d shares
# at least one untouched band whenever d < bands, so banding is
# pigeonhole-COMPLETE for the d <= 4 contract (4 differing bits can
# touch at most 4 of the 5 bands). 4x8 banding only guaranteed d <= 3
# and silently missed distance-4 pairs with one bit per band.
SIMHASH_BANDS = 5


def _simhash_band_bounds() -> list[tuple[int, int]]:
    """(bit offset, width) per band, splitting SIMHASH_BITS as evenly
    as possible."""
    base, extra = divmod(SIMHASH_BITS, SIMHASH_BANDS)
    bounds, off = [], 0
    for i in range(SIMHASH_BANDS):
        w = base + (1 if i < extra else 0)
        bounds.append((off, w))
        off += w
    return bounds


_SIMHASH_BOUNDS = _simhash_band_bounds()


def _bit_pm(side: str, b: int, digest: str = "h") -> str:
    """+1/-1 for bit b of a precomputed md5 hex digest: digit b's top
    bit. The digest is materialized ONCE per token row — inlining
    ``md5(tok)`` here would run 32 md5s per token (one per bit),
    measured ~2x slower end-to-end at sf0.1."""
    if side == "spark":
        return (
            f"case when instr('89abcdef', substring({digest}, {b}, 1)) > 0 "
            "then 1 else -1 end"
        )
    return (
        f"CASE WHEN instr('89abcdef', substring({digest}, {b}, 1)) > 0 "
        "THEN 1 ELSE -1 END"
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over the token multiset (token counts are the
    weights). One explode + one partial-aggregatable groupBy."""
    toks = tables.spread(docs, "doc_id").select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\W+"), lambda x: x != F.lit("")
            )
        ).alias("tok"),
    )
    weighted = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    weighted = weighted.select("doc_id", "cnt", F.md5(F.col("tok")).alias("h"))
    bit_sums = weighted.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"cnt * ({_bit_pm('spark', b)})")).alias(f"s{b}")
            for b in range(1, SIMHASH_BITS + 1)
        ]
    )
    combine = " + ".join(
        f"(case when s{b} > 0 then {1 << (b - 1)}L else 0L end)"
        for b in range(1, SIMHASH_BITS + 1)
    )
    return bit_sums.select("doc_id", F.expr(combine).alias("simhash"))


@query()
def simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(tables.table(spark, sf_dir, "documents"))


SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                            x -> x <> '')) AS tok
  FROM documents
),
weighted AS (
  SELECT doc_id, md5(tok) AS h, count(*) AS cnt FROM toks GROUP BY doc_id, tok
),
bit_sums AS (
  SELECT doc_id,
         {", ".join(f"SUM(cnt * ({_bit_pm('duck', b)})) AS s{b}" for b in range(1, SIMHASH_BITS + 1))}
  FROM weighted GROUP BY doc_id
)
SELECT doc_id,
       {" + ".join(f"(CASE WHEN s{b} > 0 THEN CAST({1 << (b - 1)} AS BIGINT) ELSE 0 END)" for b in range(1, SIMHASH_BITS + 1))}
           AS simhash
FROM bit_sums
"""


@query()
def simhash_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash: block on 5 bands (pigeonhole-complete
    for the d <= HAMMING_THRESHOLD = 4 contract — see SIMHASH_BANDS),
    then verify candidates with the exact hamming distance. Recall is
    1.0 within the threshold; banding only bounds the candidate set."""
    sigs = _pin(simhash_query(spark, sf_dir))
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(
                            f"shiftright(simhash, {off}) & {(1 << w) - 1}"
                        ).alias("bv"),
                    )
                    for i, (off, w) in enumerate(_SIMHASH_BOUNDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "simhash", "bs.band", "bs.bv")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        # Filter BEFORE distinct: hamming is a function of the pair, so
        # the result set is identical but the distinct shuffles only the
        # surviving pairs instead of every band collision.
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .distinct()
    )


SIMHASH_PAIRS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                            x -> x <> '')) AS tok
  FROM documents
),
weighted AS (
  SELECT doc_id, md5(tok) AS h, count(*) AS cnt FROM toks GROUP BY doc_id, tok
),
bit_sums AS (
  SELECT doc_id,
         {", ".join(f"SUM(cnt * ({_bit_pm('duck', b)})) AS s{b}" for b in range(1, SIMHASH_BITS + 1))}
  FROM weighted GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
         {" + ".join(f"(CASE WHEN s{b} > 0 THEN CAST({1 << (b - 1)} AS BIGINT) ELSE 0 END)" for b in range(1, SIMHASH_BITS + 1))}
             AS simhash
  FROM bit_sums
),
bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, simhash, {i} AS band, (simhash >> {off}) & {(1 << w) - 1} AS bv FROM sigs" for i, (off, w) in enumerate(_SIMHASH_BOUNDS))}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM bands a
JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs a held-out set)
# --------------------------------------------------------------------------

BENCHMARK_DOC_MAX = 50  # doc_id < 50 stands in for the benchmark/eval set


@query()
def contamination_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: which corpus documents share
    word-3-gram shingles with the benchmark set (here: doc_id <
    BENCHMARK_DOC_MAX), and how many. The benchmark shingle set is
    small by construction, so the overlap check is a broadcast
    semi-ish join against it — the corpus shuffles nothing, and at
    100 TB the scan-side cost is the shingling itself. Downstream, a
    pipeline drops or flags any doc with n_hits above threshold."""
    docs = tables.table(spark, sf_dir, "documents")
    sh = shingles(docs)
    bench = (
        sh.filter(F.col("doc_id") < BENCHMARK_DOC_MAX)
        .select("shingle")
        .distinct()
    )
    corpus = sh.filter(F.col("doc_id") >= BENCHMARK_DOC_MAX)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
    )


CONTAMINATION_ORACLE = f"""
WITH {_DUCK_SHINGLE_CTE},
bench AS (
  SELECT DISTINCT shingle FROM shingles WHERE doc_id < {BENCHMARK_DOC_MAX}
)
SELECT s.doc_id, count(*) AS n_contaminated_shingles
FROM shingles s
JOIN bench b ON s.shingle = b.shingle
WHERE s.doc_id >= {BENCHMARK_DOC_MAX}
GROUP BY s.doc_id
"""


# --------------------------------------------------------------------------
# Boilerplate n-gram detection (C4-style high-document-frequency lines)
# --------------------------------------------------------------------------

# A shingle is boilerplate when it appears in more than 1/BOILER_DENOM
# of all documents. The compare is exact-integer (df * DENOM > n_docs)
# so the cut is bit-identical on both engines.
BOILER_DENOM = 10


@query()
def boilerplate_ngrams_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate load: how many of its distinct
    3-gram shingles occur in more than 10% of ALL documents, and the
    fraction of the document that is such boilerplate — the C4-style
    signal for template/navigation text that near-dup pairing misses
    (boilerplate is shared by *many* docs, not near-duplicated between
    two).

    Scale: shingle document frequency is the same inverted index the
    Jaccard path builds; the per-doc rollup is partial-aggregatable.
    The corpus size joins in as a broadcast scalar, and the boiler set
    is EXPLICITLY broadcast: it is provably small (every boiler
    shingle has df > n/10, and Σdf = |shingle stream|, so |boiler| <
    10 x the average doc's distinct-shingle count), but
    as a derived frame Catalyst has no stats for it — without the hint
    the flag join planned as sort-merge and shuffled the ENTIRE
    shingle stream on `shingle`, then again on `doc_id` for the
    rollup (the 8.3x factor in the round-2 SCALE probe). Broadcast,
    the stream is touched map-side only and the sole shuffle carries
    per-doc aggregate rows.
    """
    docs = tables.table(spark, sf_dir, "documents")
    sh = shingles(docs)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    boiler = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * BOILER_DENOM > F.col("n_docs"))
        .select("shingle", F.lit(1).alias("is_boiler"))
    )
    return (
        sh.join(F.broadcast(boiler), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0)))
            .cast("bigint")
            .alias("boiler_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "boiler_shingles",
            (
                F.col("boiler_shingles").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("boiler_frac"),
        )
    )


BOILERPLATE_NGRAMS_ORACLE = f"""
WITH {_DUCK_SHINGLE_CTE},
dfreq AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY 1),
boiler AS (
  SELECT shingle FROM dfreq
  WHERE df * {BOILER_DENOM} > (SELECT count(*) FROM documents)
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS boiler_shingles,
       CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS boiler_frac
FROM shingles s
LEFT JOIN boiler b ON b.shingle = s.shingle
GROUP BY s.doc_id
"""


# --------------------------------------------------------------------------
# Per-document n-gram novelty (incremental-crawl dedup signal)
# --------------------------------------------------------------------------


@query()
def doc_ngram_novelty_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shingles, n_novel, novelty): for every document, the
    fraction of its distinct 3-gram shingles whose FIRST corpus
    occurrence (min doc_id — ingestion order in an append-only crawl)
    is this document. A doc with novelty ~0 contributes nothing the
    corpus hasn't already seen — the incremental-crawl complement of
    the pairwise dedup tiers, computed without any pair join at all.

    Scale: one shuffle groups shingles to find each one's first doc
    (partial-aggregated min), one shingle-keyed join back (never
    broadcast — the shingle vocabulary is corpus-sized), one partial-
    aggregated per-doc count. Every shuffled row is a shingle string +
    one BIGINT; no step is super-linear in corpus size."""
    sh = shingles(tables.table(spark, sf_dir, "documents"))
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty"),
        )
    )


DOC_NGRAM_NOVELTY_ORACLE = f"""
WITH {_DUCK_SHINGLE_CTE},
first AS (SELECT shingle, min(doc_id) AS first_doc FROM shingles GROUP BY 1)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS novelty
FROM shingles s
JOIN first f ON f.shingle = s.shingle
GROUP BY s.doc_id
"""


# --------------------------------------------------------------------------
# Incremental dedup: new-batch-vs-corpus index probe (the production shape)
# --------------------------------------------------------------------------

# Content-stable split: ~90% standing corpus, ~10% incoming batch
# (same md5 bucket as sampling.dataset_split — a doc's role never
# depends on partitioning or arrival order).
INCREMENTAL_BUCKET_SPLIT = 90

_INC_BUCKET_SPARK = (
    "cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as bigint) % 100"
)
_INC_BUCKET_DUCK = (
    "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100"
)


@query(oracle="_incremental_oracle")
def incremental_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_corpus_dups, best_match, min_hamming): for every
    INCOMING document (content-stable ~10% split), its near-duplicates
    in the STANDING corpus (the other ~90%) — found by probing the
    corpus's SimHash band index, never by pairing the corpus with
    itself.

    This is the production dedup shape at 100 TB: the standing index
    (doc_id, band, bv) is precomputed and bucketed by (band, bv); each
    new crawl batch re-signs only its own documents and equi-joins the
    index, so per-batch cost is |batch| x bands probes + the collision
    verify — independent of corpus size except through collision
    fan-out (bounded by the 5-band scheme exactly as in
    simhash_pairs). Recall within hamming <= HAMMING_THRESHOLD is 1.0
    by the same pigeonhole argument."""
    sigs = _pin(simhash_query(spark, sf_dir))
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.expr(_INC_BUCKET_SPARK).alias("bucket"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(
                            f"shiftright(simhash, {off}) & {(1 << w) - 1}"
                        ).alias("bv"),
                    )
                    for i, (off, w) in enumerate(_SIMHASH_BOUNDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "simhash", "bucket", "bs.band", "bs.bv")
    inc = bands.filter(F.col("bucket") >= INCREMENTAL_BUCKET_SPLIT).alias("i")
    corp = bands.filter(F.col("bucket") < INCREMENTAL_BUCKET_SPLIT).alias("c")
    matches = (
        inc.join(
            corp,
            (F.col("i.band") == F.col("c.band"))
            & (F.col("i.bv") == F.col("c.bv")),
        )
        .select(
            F.col("i.doc_id").alias("doc_id"),
            F.col("c.doc_id").alias("corpus_doc"),
            F.expr("bit_count(i.simhash ^ c.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .distinct()
    )
    return matches.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_corpus_dups"),
        F.min("corpus_doc").alias("best_match"),
        F.min("hamming").alias("min_hamming"),
    )


def _incremental_oracle() -> str:
    bands_cte = SIMHASH_PAIRS_ORACLE.split("SELECT DISTINCT")[0]
    return f"""{bands_cte}
, banded AS (
  SELECT doc_id, simhash, band, bv, {_INC_BUCKET_DUCK} AS bucket
  FROM bands
),
matches AS (
  SELECT DISTINCT i.doc_id, c.doc_id AS corpus_doc,
         bit_count(xor(i.simhash, c.simhash)) AS hamming
  FROM banded i
  JOIN banded c ON i.band = c.band AND i.bv = c.bv
  WHERE i.bucket >= {INCREMENTAL_BUCKET_SPLIT}
    AND c.bucket < {INCREMENTAL_BUCKET_SPLIT}
    AND bit_count(xor(i.simhash, c.simhash)) <= {HAMMING_THRESHOLD}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_corpus_dups,
       CAST(min(corpus_doc) AS BIGINT) AS best_match,
       CAST(min(hamming) AS BIGINT) AS min_hamming
FROM matches
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Edit-distance verified near-dup (LSH candidates + Levenshtein)
# --------------------------------------------------------------------------

EDIT_PREFIX = 120  # chars of text entering the DP — bounds cost per pair
EDIT_SIM_THRESHOLD = 0.8

_DUCK_MINHASH_CAND = f"""
hashed AS (
  SELECT doc_id, {_BASE_DUCK} AS base FROM shingles
),
sigs AS (
  SELECT doc_id,
         {", ".join(f"min(({a} * base + {b}) % {_MERSENNE_P}) AS h{j}" for j, (a, b) in enumerate(_AFFINE))}
  FROM hashed GROUP BY doc_id
),
bands AS ({{band_rows}}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)"""


@query(family="dedup")
def edit_distance_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, edit_dist, edit_sim): near-dup pairs whose
    EDIT-DISTANCE similarity over a bounded text prefix clears
    EDIT_SIM_THRESHOLD — the character-level verify tier (catches
    reorder-free edits that shingle Jaccard underweights, e.g. minor
    typo variants of the same template).

    Levenshtein is O(len_a * len_b) per pair, so it is only ever run
    on (a) LSH band candidates — the same MinHash candidate stage as
    minhash_lsh_pairs, so candidate generation shuffles 32 ints/doc —
    and (b) a fixed EDIT_PREFIX-char prefix, bounding each DP at
    PREFIX^2 regardless of document length. Both bounds are exactly
    how production fuzzy-dedup verify stages cap the quadratic step.
    The pair join carries (doc_id, prefix) only; full text never
    shuffles. Both engines implement classic unit-cost Levenshtein,
    so the verify is bit-identical."""
    docs = tables.table(spark, sf_dir, "documents")
    cand = _candidate_table(docs)
    pref = docs.select(
        "doc_id", F.expr(f"substring(text, 1, {EDIT_PREFIX})").alias("pref")
    )
    pa = pref.select(F.col("doc_id").alias("doc_a"), F.col("pref").alias("pa"))
    pb = pref.select(F.col("doc_id").alias("doc_b"), F.col("pref").alias("pb"))
    sim = (
        F.lit(1.0)
        - F.col("edit_dist")
        / F.greatest(F.length("pa"), F.length("pb"), F.lit(1)).cast("double")
    )
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").cast("bigint").alias("edit_dist"),
            "pa",
            "pb",
        )
        .select("doc_a", "doc_b", "edit_dist", sim.alias("edit_sim"))
        .filter(F.col("edit_sim") >= EDIT_SIM_THRESHOLD)
    )


EDIT_DISTANCE_PAIRS_ORACLE = f"""
WITH {_DUCK_SHINGLE_CTE},
{_DUCK_MINHASH_CAND.replace("{band_rows}", _duck_band_rows())},
pref AS (
  SELECT doc_id, substring(text, 1, {EDIT_PREFIX}) AS pref FROM documents
)
SELECT doc_a, doc_b, edit_dist,
       1.0 - CAST(edit_dist AS DOUBLE)
           / greatest(length(pa), length(pb), 1) AS edit_sim
FROM (
  SELECT c.doc_a, c.doc_b,
         CAST(levenshtein(a.pref, b.pref) AS BIGINT) AS edit_dist,
         a.pref AS pa, b.pref AS pb
  FROM cand c
  JOIN pref a ON a.doc_id = c.doc_a
  JOIN pref b ON b.doc_id = c.doc_b
)
WHERE 1.0 - CAST(edit_dist AS DOUBLE)
          / greatest(length(pa), length(pb), 1) >= {EDIT_SIM_THRESHOLD}
"""


# --------------------------------------------------------------------------
# C4-style line-level dedup
# --------------------------------------------------------------------------

LINE_MIN_CHARS = 10  # ignore fragments shorter than this after trim

# One shared split: sentences/lines on period boundaries, trimmed,
# length-filtered. Both engines evaluate the same regex and trim.
_LINE_SPLIT_SPARK = (
    "filter(transform(split(text, '\\\\.'), x -> trim(x)),"
    f" x -> length(x) >= {LINE_MIN_CHARS})"
)
_LINE_SPLIT_DUCK = (
    "list_filter(list_transform(string_split(text, '.'), x -> trim(x)),"
    f" x -> length(x) >= {LINE_MIN_CHARS})"
)


@query()
def line_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_lines, n_dup_lines, dup_fraction): per-document
    fraction of lines that appear VERBATIM elsewhere in the corpus —
    the C4 line-level dedup signal (Raffel et al. 2020 drop exact
    duplicate lines corpus-wide; this emits the per-doc measurement a
    curation gate thresholds on). Granularity sits between shingle
    Jaccard (word n-grams) and shared_substrings (fixed char
    windows): whole trimmed sentences.

    Shape: explode lines once, md5 them (16-byte digests shuffle, the
    text never does), one partial-aggregated digest df count, then a
    broadcast-sized HOT set? No — the duplicated-line set is corpus-
    scale, so the flag join keys on the digest itself: (doc, digest)
    rows join the (digest, df) table on the digest hash — both sides
    id-width, co-partitioned by the same key. Per-doc rollup is
    partial-aggregatable. Distinct-per-doc first (array_distinct), so
    a line repeated WITHIN one doc does not self-inflate its df."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    lines = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.expr(_LINE_SPLIT_SPARK))
        ).alias("line"),
    ).select("doc_id", F.md5("line").alias("h"))
    df_tbl = lines.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        lines.join(df_tbl, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum((F.col("df") > 1).cast("bigint"))
            .cast("bigint")
            .alias("n_dup_lines"),
        )
        .withColumn(
            "dup_fraction",
            F.col("n_dup_lines").cast("double")
            / F.col("n_lines").cast("double"),
        )
    )


LINE_DEDUP_ORACLE = f"""
WITH lines AS (
  SELECT DISTINCT doc_id, md5(line) AS h FROM (
    SELECT doc_id, unnest({_LINE_SPLIT_DUCK}) AS line
    FROM documents
  )
),
df_tbl AS (
  SELECT h, CAST(count(*) AS BIGINT) AS df FROM lines GROUP BY h
)
SELECT l.doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_lines,
       CAST(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS dup_fraction
FROM lines l JOIN df_tbl d ON d.h = l.h
GROUP BY l.doc_id
"""


# --------------------------------------------------------------------------
# Containment pairs (asymmetric near-dup: quote/inclusion detection)
# --------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.9


@query(family="dedup")
def containment_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(inner_doc, outer_doc, containment, jaccard): pairs where the
    SMALLER document's shingles are almost all present in the larger
    one — Broder containment |A∩B|/|A|, the asymmetric companion to
    Jaccard that catches a short document quoted inside a long one
    (Jaccard divides by the union, so inclusion of a small doc in a
    big one scores near zero and slips every symmetric tier).

    Reuses the df-capped shingle inverted index: candidate pairs come
    from the same sub-quadratic shingle equi-join as
    ngram_jaccard_pairs — literally the same memoized pin
    (_capped_inter_table), so a scope that runs both detectors pays
    the join once — then containment is intersection over the smaller
    side's shingle count. Emitted once per unordered pair, oriented
    (inner=smaller set, ties by id)."""
    docs = tables.table(spark, sf_dir, "documents")
    inter = _capped_inter_table(docs)
    sizes = _capped_sizes_table(docs)
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    scored = inter.join(na, "doc_a").join(nb, "doc_b")
    inner_first = F.col("na") < F.col("nb")
    tie = (F.col("na") == F.col("nb"))
    return (
        scored.select(
            F.when(inner_first | tie, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("inner_doc"),
            F.when(inner_first | tie, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("outer_doc"),
            (
                F.col("i").cast("double")
                / F.least("na", "nb").cast("double")
            ).alias("containment"),
            (
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


CONTAINMENT_PAIRS_ORACLE = f"""
WITH {_DUCK_SHINGLE_CTE},
df_tbl AS (
  SELECT shingle, count(*) AS df FROM shingles GROUP BY shingle
),
capped AS (
  SELECT s.doc_id, s.shingle FROM shingles s
  JOIN df_tbl d ON d.shingle = s.shingle
  WHERE d.df <= {SHINGLE_DF_CAP}
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM capped a
  JOIN capped b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CASE WHEN na.n <= nb.n THEN doc_a ELSE doc_b END AS inner_doc,
       CASE WHEN na.n <= nb.n THEN doc_b ELSE doc_a END AS outer_doc,
       CAST(i AS DOUBLE) / least(na.n, nb.n) AS containment,
       CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / least(na.n, nb.n) >= {CONTAINMENT_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Dedup-tier agreement matrix (meta-audit of the near-dup family)
# --------------------------------------------------------------------------

_TIERS = ["simhash", "minhash", "ngram", "edit"]


def _tier_pairs(spark: SparkSession, sf_dir: str, tier: str) -> DataFrame:
    """One detector's (doc_a, doc_b) pair set, SHARED-PINNED.

    The pair set itself is a shared pin (round-10: the r09 verdict's
    detector-chain observation — kendall_w_detectors, detector_kappa,
    detector_cochran_q and dedup_tier_agreement each re-ran the four
    detectors' VERIFY stages from the pinned shingle/signature roots,
    so the audit chain paid the banded joins and Hamming/Jaccard
    filters once per query instead of once per scope). Pair sets are
    id-pair-width — orders of magnitude smaller than any upstream
    artifact — so the pin is cheap and the whole chain now derives
    from four materialized id-pair tables. At cluster scale this is
    the per-detector pair stage-table every audit would read.

    CONCURRENCY CONTRACT: dedup_tier_agreement and
    blocking_recall_audit call this from ``pinning.parallel`` so the
    detectors' eager shared-pin materializations overlap as parallel
    Spark jobs (measured 22.4s -> 9.9s for the recall audit). That
    overlap is safe ONLY because every shared intermediate goes
    through pinning.shared_pin, whose per-key double-checked lock
    makes concurrent first-touch of the same key block-then-reuse
    rather than double-build. If two threads nonetheless race a plain
    ``pin``/``persist`` on the same frame the failure mode is benign
    — Spark cache registration is idempotent; the loser logs an
    "already cached" warning and reads the winner's cache — but it
    DOUBLE-COMPUTES the materialization job. A refactor that swaps a
    shared_pin for a plain pin here must either keep the builds
    disjoint per thread or build them serially."""
    docs = tables.table(spark, sf_dir, "documents")

    def build() -> DataFrame:
        if tier == "simhash":
            return simhash_pairs_query(spark, sf_dir).select(
                "doc_a", "doc_b"
            )
        if tier == "minhash":
            return minhash_lsh_pairs_query(spark, sf_dir).select(
                "doc_a", "doc_b"
            )
        if tier == "ngram":
            return ngram_jaccard_pairs_query(spark, sf_dir).select(
                "doc_a", "doc_b"
            )
        return edit_distance_pairs_query(spark, sf_dir).select(
            "doc_a", "doc_b"
        )

    return _shared_pin((f"dedup.tier_pairs.{tier}", docs), build)


@query(family="dedup")
def dedup_tier_agreement_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tier_a, tier_b, n_a, n_b, n_both): pairwise overlap between
    the four near-dup detectors' pair sets (SimHash bands, MinHash
    LSH+verify, df-capped n-gram Jaccard, edit-distance verify) — the
    meta-audit that tells a dedup pipeline whether its tiers agree
    (high overlap = redundant cost), complement each other (each
    catches different duplicate kinds), or one has silently broken
    (overlap collapses round-over-round).

    Each tier's pair set is computed ONCE and pinned; the 6 overlap
    counts are joins of id-pair tables orders of magnitude smaller
    than the corpus. The expensive part is running the four
    detectors — which is precisely what this audit amortizes a
    decision over.

    Scheduling (round-5 shape): after the shingle pin, each tier
    builds its plan on its own thread — driver-side plan construction
    (~1.6s of py4j expression building) overlaps with the shared-pin
    materializations the threads trigger (signatures -> candidates,
    df-capped inverted index, simhash signatures; shared_pin is
    per-key locked so racing threads wait instead of double-
    building). The reduction then exploits that each tier emits a
    pair at most once: the union of bit-tagged pair sets rolls up to
    a per-pair tier-membership BITMASK, whose histogram has at most
    2^4 = 16 rows — every n_a/n_b/n_both the audit reports is a
    conditional sum over that histogram against a literal 6-row
    tier-pair domain (zero-overlap cells emit naturally). That
    replaces round-4's four pinned pair tables + 4 count jobs + 6
    overlap semi-joins (each shuffling the ~1M-row pair sets) with
    ONE job that shuffles the pairs once. Measured 8.7s -> ~4.6s
    solo at sf0.1; output rows (and the driver hash) are
    identical."""
    docs = tables.table(spark, sf_dir, "documents")
    # Shingles first (every chain needs them), then each tier builds
    # its plan on its own thread: plan construction is driver-side
    # py4j work (~1.6s for these expression trees) that overlaps with
    # the shared-pin materializations the threads trigger as side
    # effects (sigs -> candidates on the minhash/edit path, capped ->
    # inter/sizes on the ngram path, simhash signatures) — shared_pin
    # is per-key locked, so racing threads wait instead of
    # double-building. (Measured: dropping this up-front warm and
    # letting the threads race the root pin REGRESSES the cold run
    # 14.8s -> 20.3s — the lock convoy + concurrent py4j plan
    # construction costs more than the shingle-free chains' overlap
    # buys. See _tier_pairs' concurrency contract.)
    _shingle_table(docs)

    def _tagged(i_t: tuple[int, str]) -> DataFrame:
        i, t = i_t
        return _tier_pairs(spark, sf_dir, t).select(
            "doc_a", "doc_b", F.lit(1 << i).alias("bit")
        )

    parts = _parallel(
        spark, *(partial(_tagged, it) for it in enumerate(_TIERS))
    )
    tagged = parts[0]
    for part in parts[1:]:
        tagged = tagged.unionAll(part)
    # Each tier emits a pair at most once, so sum(bit) IS the tier
    # membership bitmask; the mask histogram has at most 2^|tiers|=16
    # rows, and every count the audit reports is a conditional sum
    # over it. One job computes the whole reduction (the tier pair
    # sets at sf0.1 are ~1M rows — a mask rollup shuffles them once,
    # where per-tier-pair overlap joins shuffled them 2x per cell).
    # Round-12: NOT pinned — the histogram has exactly one consumer
    # (the broadcast side of the domain join below), so a pin was one
    # extra eager job per invocation for nothing (measured ~0.1-2s
    # depending on host state; values identical).
    mask_counts = (
        tagged.groupBy("doc_a", "doc_b")
        .agg(F.sum("bit").alias("mask"))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    domain = spark.createDataFrame(
        [
            (a, b, 1 << i, 1 << (i + 1 + j))
            for i, a in enumerate(_TIERS)
            for j, b in enumerate(_TIERS[i + 1:])
        ],
        "tier_a string, tier_b string, bit_a int, bit_b int",
    )
    hit_a = F.expr("mask & bit_a") != 0
    hit_b = F.expr("mask & bit_b") != 0
    zero = F.lit(0).cast("bigint")
    # LEFT join (not crossJoin) against the literal domain: a corpus
    # with no near-dup pairs makes the mask histogram EMPTY, and a
    # crossJoin would emit 0 rows where the oracle's scalar-subquery
    # form always emits all 6 tier-pair rows with zero counts. With
    # a left join each domain row survives with a NULL mask, every
    # hit predicate evaluates NULL -> otherwise(0), and the sums
    # report 0 — same physical BroadcastNestedLoopJoin either way
    # (the histogram is <=16 rows).
    return (
        domain.join(mask_counts, F.lit(True), "left")
        .groupBy("tier_a", "tier_b")
        .agg(
            F.sum(F.when(hit_a, F.col("cnt")).otherwise(zero))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(hit_b, F.col("cnt")).otherwise(zero))
            .cast("bigint")
            .alias("n_b"),
            F.sum(F.when(hit_a & hit_b, F.col("cnt")).otherwise(zero))
            .cast("bigint")
            .alias("n_both"),
        )
    )


def _tier_agreement_oracle() -> str:
    tier_sql = {
        "simhash": SIMHASH_PAIRS_ORACLE,
        "minhash": MINHASH_LSH_ORACLE,
        "ngram": NGRAM_JACCARD_ORACLE,
        "edit": EDIT_DISTANCE_PAIRS_ORACLE,
    }
    ctes = ",\n".join(
        f"{t} AS MATERIALIZED (SELECT doc_a, doc_b FROM "
        f"({tier_sql[t].strip().rstrip(';')}))"
        for t in _TIERS
    )
    selects = []
    for i, a in enumerate(_TIERS):
        for b in _TIERS[i + 1:]:
            selects.append(
                f"SELECT '{a}' AS tier_a, '{b}' AS tier_b,"
                f" (SELECT CAST(count(*) AS BIGINT) FROM {a}) AS n_a,"
                f" (SELECT CAST(count(*) AS BIGINT) FROM {b}) AS n_b,"
                f" (SELECT CAST(count(*) AS BIGINT) FROM {a} x"
                f"  WHERE EXISTS (SELECT 1 FROM {b} y"
                f"   WHERE y.doc_a = x.doc_a AND y.doc_b = x.doc_b))"
                f" AS n_both"
            )
    return f"WITH {ctes}\n" + "\nUNION ALL\n".join(selects)


DEDUP_TIER_AGREEMENT_ORACLE = _tier_agreement_oracle()


# --------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-style, lossless)
# --------------------------------------------------------------------------

# Jaccard threshold as an exact rational (4/5): every bound below is
# integer arithmetic, so the prefix lengths and the final predicate
# are bit-identical on both engines (0.8 * s in doubles is NOT —
# 0.8*5 = 4.000000000000000222 ceils to 5).
PF_TAU_NUM = 4
PF_TAU_DEN = 5


# Lossless prefix-filtered set-similarity join: the oracle is the
# NAIVE exact tau-join, so the hash check is a machine-checked
# completeness proof of the prefix filter.
@query(family="dedup")
def prefix_filter_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12: the PPJoin pair set is a ``dedup.``-scoped SHARED PIN
    (the ``_tier_pairs`` pattern extended to the non-tier blocking
    strategies): blocking_recall_audit derives this exact pair set as
    one of its six strategies, so within one scope — the audit's own
    composition, or the bench's dedup family block — the prefix
    join + verify run ONCE instead of once per consumer. Pair sets are
    id-pair-width, so the pin is cheap; values are identical (the pin
    only moves WHERE the subtree materializes). Dial constants join
    the key per the r11 shared-pin convention."""
    docs = tables.table(spark, sf_dir, "documents")
    return _shared_pin(
        (
            "dedup.pairs.prefix_filter",
            docs,
            PF_TAU_NUM,
            PF_TAU_DEN,
        ),
        lambda: _prefix_filter_pairs_plan(spark, sf_dir),
    )


def _prefix_filter_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jac_num, jac_den, jaccard): ALL document pairs
    whose 3-gram-shingle-SET Jaccard clears tau = 4/5, computed with
    the classic prefix-filter candidate join (Chaudhuri et al. '06 /
    PPJoin): order elements by ascending document frequency, keep only
    each document's first p = s - ceil(tau*s) + 1 shingles as its
    "prefix", and join on prefix shingles only — the prefix-filter
    lemma guarantees every qualifying pair shares a prefix element,
    so the join is LOSSLESS while hot boilerplate shingles (which
    sort last) never enter the candidate join at all. Candidates then
    verify with the exact intersection, and the predicate is
    cross-multiplied to integers (9*i >= 4*(sa+sb), equivalent to
    i/(sa+sb-i) >= 4/5).

    The DuckDB oracle is the NAIVE exact tau-join (full inverted
    index, no filtering, no df cap) — so the driver's hash check is
    literally a machine-checked completeness proof of the prefix
    filter. That also makes this the module's only detector with NO
    df cap: where ngram_jaccard_pairs trades boilerplate shingles
    away (SHINGLE_DF_CAP) for join safety, the prefix filter keeps
    them in the verified sets and keeps the join safe anyway —
    complementary guarantees over the same shingle universe.

    Elements are shingle SETS, not token sets: on corpora drawn from
    a shared vocabulary, token-set Jaccard saturates (measured: 24%
    of ALL doc pairs at sf0.1 cleared tau=0.8 on tokens — a 3M-pair
    quadratic output — vs the true few-hundred near-dup pairs on
    shingles).

    Scale: df ranking is one element-vocabulary rollup; the per-doc
    prefix rank is a doc-partitioned window (never global); prefixes
    shrink as tau grows (tau=0.8 keeps ~1/5 of each set); rare
    shingles dominate prefixes so per-element join fan-out is small
    by construction — the standard production posture for exact
    set-similarity joins."""
    from pyspark.sql import Window as W

    docs = tables.table(spark, sf_dir, "documents")
    elems = _shingle_table(docs)
    dfreq = elems.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sizes = elems.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    # No global element rank needed: the prefix is "the p elements
    # smallest in the (df, shingle) total order", so a doc-partitioned
    # row_number over that tuple is equivalent to ranking the whole
    # vocabulary first — and never funnels into one partition.
    ranked = (
        elems.join(dfreq, "shingle")
        .join(sizes, "doc_id")
        .select(
            "doc_id",
            "shingle",
            "s",
            F.row_number()
            .over(
                W.partitionBy("doc_id").orderBy(
                    F.asc("df"), F.asc("shingle")
                )
            )
            .alias("rn"),
        )
    )
    # p = s - ceil(tau*s) + 1, with ceil(4s/5) = (4s + 4) div 5
    p = (
        F.col("s")
        - F.expr(f"({PF_TAU_NUM} * s + {PF_TAU_DEN} - 1) div {PF_TAU_DEN}")
        + 1
    )
    prefix = ranked.filter(F.col("rn") <= p).select("doc_id", "shingle", "s")
    a, b = prefix.alias("a"), prefix.alias("b")
    # Length filter (also lossless): jaccard >= 4/5 forces
    # 9*i >= 4*(sa+sb) with i <= min(sa,sb), hence
    # 5*min(sa,sb) >= 4*max(sa,sb) — pairs of very different set
    # sizes can't qualify and never become candidates (measured:
    # 118k -> ~3k candidates at sf0.1 for 256 qualifying pairs).
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (PF_TAU_DEN * F.col("a.s") >= PF_TAU_NUM * F.col("b.s"))
            & (PF_TAU_DEN * F.col("b.s") >= PF_TAU_NUM * F.col("a.s")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Verify through the candidate PAIR list, not a shingle self-join
    # over candidate docs: expanding cand by doc_a's elements and
    # equi-joining on (doc_b, shingle) keeps the verify cost at
    # |cand| * |set| rows — a self-join would re-fan-out every hot
    # shingle shared across the candidate neighborhood.
    ea = elems.select(
        F.col("doc_id").alias("doc_a"), F.col("shingle").alias("shingle")
    )
    eb = elems.select(
        F.col("doc_id").alias("doc_b"), F.col("shingle").alias("shingle")
    )
    inter = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "shingle"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(
            (PF_TAU_DEN + PF_TAU_NUM) * F.col("i")
            >= PF_TAU_NUM * (F.col("sa") + F.col("sb"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("i").alias("jac_num"),
            (F.col("sa") + F.col("sb") - F.col("i"))
            .cast("bigint")
            .alias("jac_den"),
            (
                F.col("i").cast("double")
                / (F.col("sa") + F.col("sb") - F.col("i")).cast("double")
            ).alias("jaccard"),
        )
    )


# The oracle is deliberately the UNFILTERED exact join (no prefix
# filter, no df cap): hash equality proves the Spark side's prefix
# filter drops nothing.
PREFIX_FILTER_PAIRS_ORACLE = f"""
WITH {_DUCK_SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*) AS s FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS i
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       i AS jac_num,
       CAST(na.s + nb.s - i AS BIGINT) AS jac_den,
       CAST(i AS DOUBLE) / CAST(na.s + nb.s - i AS DOUBLE) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE {PF_TAU_DEN + PF_TAU_NUM} * i >= {PF_TAU_NUM} * (na.s + nb.s)
"""


# --------------------------------------------------------------------------
# Winnowing fingerprints (MOSS-style positional document fingerprinting)
# --------------------------------------------------------------------------

WINNOW_W = 4  # window of consecutive k-gram hashes per fingerprint
_WINNOW_SEED = 77


def _winnow_fps(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, fp): each document's DISTINCT winnowing
    fingerprints — shared (and pinned) by the per-doc summary query
    and the fingerprint-index pair join."""
    from pyspark.sql import Window as W

    from ..functions.xhash import hash60_spark

    def build() -> DataFrame:
        grams = (
            tables.spread(docs, "doc_id")
            .select("doc_id", F.expr(_SPARK_TOKS).alias("toks"))
            .select(
                "doc_id",
                F.expr(f"size({_SPARK_SHINGLES})").alias("n_grams"),
                F.posexplode(F.expr(_SPARK_SHINGLES)).alias(
                    "pos0", "shingle"
                ),
            )
            .select(
                "doc_id",
                "n_grams",
                (F.col("pos0") + 1).alias("pos"),
                F.expr(hash60_spark("shingle", _WINNOW_SEED)).alias("h"),
            )
        )
        win = (
            W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
        )
        return (
            grams.select(
                "doc_id",
                "n_grams",
                "pos",
                F.min("h").over(win).alias("fp"),
            )
            .filter(F.col("pos") <= F.col("n_grams") - WINNOW_W + 1)
            .select("doc_id", "n_grams", "fp")
            .distinct()
        )

    return _shared_pin(("dedup.winnow_fps", docs), build)


@query(family="dedup")
def winnowing_fingerprints_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_grams, n_fingerprints, min_fp, fp_checksum): the
    winnowing fingerprint set of each document — slide a window of
    WINNOW_W consecutive positional 3-gram hashes and keep each
    window's minimum (Schleimer, Wilkerson & Aiken, SIGMOD'03; the
    MOSS algorithm). Winnowing guarantees any shared substring of at
    least W+K-1 tokens contributes a shared fingerprint, while
    keeping ~2/(W+1) of the grams — the classic
    density/detection-guarantee tradeoff that pure modular sampling
    (doc_fingerprint's 0-mod-p) lacks. Fingerprints are summarized
    per doc as count/min/sum-of-distinct — integer-exact, so the
    whole selection is hash-checked, not sampled.

    Unlike the set-based detectors above, grams here are POSITIONAL
    (repeats retained, order preserved): winnowing fingerprints
    locality — which window a gram wins — not just membership.

    Scale: per-doc windows only (partitioned by doc_id, never
    global); hashes are md5-affine JVM expressions; output is one
    row per doc. The fingerprint-index join this feeds (find docs
    sharing a fingerprint) is the same inverted-index shape as the
    shingle join, with ~2/(W+1) the postings."""
    fps = _winnow_fps(tables.table(spark, sf_dir, "documents"))
    return fps.groupBy("doc_id").agg(
        F.max("n_grams").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
        F.min("fp").cast("bigint").alias("min_fp"),
        # fp values are 60-bit; summing them raw overflows int64 after
        # ~8 fingerprints, so the checksum sums residues mod a prime.
        F.sum(F.expr("fp % 1000000007")).cast("bigint").alias("fp_checksum"),
    )


def _winnow_fps_ctes() -> str:
    """The shared DuckDB CTE chain ending in ``fps(doc_id, n_grams,
    fp)`` — mirrored by ``_winnow_fps``."""
    from ..functions.xhash import hash60_duck

    gram_concat = " || ' ' || ".join(
        f"toks[i + {k}]" for k in range(SHINGLE_N)
    )
    return f"""tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
  FROM documents
),
grams0 AS (
  SELECT doc_id,
         len(toks) - {SHINGLE_N - 1} AS n_grams,
         unnest([{{'pos': i, 'sh': {gram_concat}}}
                 for i in generate_series(1, len(toks) - {SHINGLE_N - 1})]) AS g
  FROM tok
  WHERE len(toks) >= {SHINGLE_N}
),
grams AS (
  SELECT doc_id, n_grams, g.pos AS pos,
         {hash60_duck("g.sh", _WINNOW_SEED)} AS h
  FROM grams0
),
wins AS (
  SELECT doc_id, n_grams, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW
                      AND {WINNOW_W - 1} FOLLOWING) AS fp
  FROM grams
),
fps AS (
  SELECT DISTINCT doc_id, n_grams, fp
  FROM wins WHERE pos <= n_grams - {WINNOW_W} + 1
)"""


def _winnow_oracle() -> str:
    return f"""
WITH {_winnow_fps_ctes()}
SELECT doc_id,
       CAST(max(n_grams) AS BIGINT) AS n_grams,
       CAST(count(*) AS BIGINT) AS n_fingerprints,
       CAST(min(fp) AS BIGINT) AS min_fp,
       CAST(sum(fp % 1000000007) AS BIGINT) AS fp_checksum
FROM fps
GROUP BY doc_id
"""


WINNOWING_FINGERPRINTS_ORACLE = _winnow_oracle()


WINNOW_MIN_SHARED = 2  # shared fingerprints to become a candidate pair


@query(family="dedup")
def winnowing_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12: shared-pinned pair set (see prefix_filter_pairs_query
    — same pattern, same reason: blocking_recall_audit re-derived this
    exact set although the winnow-fingerprint pin was warm)."""
    docs = tables.table(spark, sf_dir, "documents")
    return _shared_pin(
        (
            "dedup.pairs.winnowing",
            docs,
            WINNOW_W,
            WINNOW_MIN_SHARED,
        ),
        lambda: _winnowing_pairs_plan(spark, sf_dir),
    )


def _winnowing_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared_fps, jaccard): near-dup pairs whose
    WINNOWING fingerprint sets overlap in at least WINNOW_MIN_SHARED
    fingerprints, verified with the exact capped-shingle Jaccard —
    the fifth candidate-generation strategy, and the one tuned for
    SHARED-SUBSTRING duplicates: winnowing guarantees any common run
    of >= W+K-1 tokens contributes a common fingerprint (a locality
    guarantee none of the set-based strategies make), at ~2/(W+1)
    the posting density of the full shingle index.

    Scale: the fingerprint index join is the shingle join's shape at
    a fraction of the postings; hot fingerprints (boilerplate runs)
    are df-capped exactly like hot shingles, and verification runs
    through the candidate pair list (the prefix_filter recipe)."""
    docs = tables.table(spark, sf_dir, "documents")
    fps = _winnow_fps(docs).select("doc_id", "fp")
    hot = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .select("fp")
    )
    capped = fps.join(F.broadcast(hot), "fp", "left_anti")
    a, b = capped.alias("a"), capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= WINNOW_MIN_SHARED)
    )
    elems = _capped_shingle_table(docs)
    ea = elems.select(F.col("doc_id").alias("doc_a"), "shingle")
    eb = elems.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.select("doc_a", "doc_b")
        .join(ea, "doc_a")
        .join(eb, ["doc_b", "shingle"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sizes = _capped_sizes_table(docs)
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .join(cand, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "n_shared_fps",
            (
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _winnow_pairs_oracle() -> str:
    return f"""
WITH {_winnow_fps_ctes()},
fdf AS (
  SELECT fp FROM (SELECT fp, count(*) AS df FROM
    (SELECT DISTINCT doc_id, fp FROM fps) GROUP BY fp)
  WHERE df <= {SHINGLE_DF_CAP}
),
capped_fps AS (
  SELECT DISTINCT f.doc_id, f.fp FROM fps f
  JOIN fdf ON fdf.fp = f.fp
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared_fps
  FROM capped_fps a
  JOIN capped_fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {WINNOW_MIN_SHARED}
),
{_DUCK_SHINGLE_CTE[_DUCK_SHINGLE_CTE.index("shingles AS"):]},
capped AS (
  SELECT s.doc_id, s.shingle
  FROM shingles s
  JOIN (SELECT shingle FROM shingles
        GROUP BY 1 HAVING count(*) <= {SHINGLE_DF_CAP}) keep
    ON s.shingle = keep.shingle
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN capped ea ON ea.doc_id = c.doc_a
  WHERE EXISTS (SELECT 1 FROM capped eb
                WHERE eb.doc_id = c.doc_b AND eb.shingle = ea.shingle)
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, c.n_shared_fps,
       CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) AS jaccard
FROM inter i
JOIN cand c ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= {JACCARD_THRESHOLD}
"""


WINNOWING_PAIRS_ORACLE = _winnow_pairs_oracle()


# --------------------------------------------------------------------------
# Sorted-neighborhood candidate join (the fourth blocking strategy)
# --------------------------------------------------------------------------

SNM_W = 6  # rank-window width within a block
SNM_KEY_LEN = 24  # normalized sort-key prefix length
SNM_BLOCK_LEN = 4  # leading chars that define the block


@query(family="dedup")
def sorted_neighborhood_pairs_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-12: shared-pinned pair set (see prefix_filter_pairs_query
    — same pattern: the audit and this query materialize it once per
    scope)."""
    docs = tables.table(spark, sf_dir, "documents")
    return _shared_pin(
        (
            "dedup.pairs.sorted_neighborhood",
            docs,
            SNM_W,
            SNM_KEY_LEN,
            SNM_BLOCK_LEN,
        ),
        lambda: _sorted_neighborhood_pairs_plan(spark, sf_dir),
    )


def _sorted_neighborhood_pairs_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_a, doc_b, jaccard): near-dup pairs surfaced by the
    SORTED-NEIGHBORHOOD method (Hernandez & Stolfo '95) and verified
    with the exact capped-shingle Jaccard: sort documents by a
    normalized text-prefix key, take as candidates only pairs within
    SNM_W ranks of each other inside a key-prefix block, verify
    exactly. The module's fourth candidate-generation strategy —
    bands (MinHash), bit-blocks (SimHash), df-ordered prefixes
    (PPJoin), and now sort-order locality — each with a different
    recall/cost shape: SNM is the cheapest (one sort, n*W
    candidates, no per-token join at all) and catches the
    shared-prefix family of near-dups (template instantiations,
    truncations) that hash-based blocking only finds at higher cost.

    Blocked formulation: the window lives INSIDE a key-prefix block
    (the standard production variant), so ranking is a per-block
    window — never a global sort — and block boundaries are data
    boundaries (docs in different blocks differ in their first
    SNM_BLOCK_LEN normalized chars, so they are not
    prefix-family near-dups by construction).

    Scale: one per-block window over (block, key) + a rank-distance
    band join bounded at |docs| * (SNM_W - 1) candidate rows +
    pair-list verification (candidate x set-size rows, the
    prefix_filter_pairs recipe). No shingle self-join anywhere."""
    from pyspark.sql import Window as W

    docs = tables.table(spark, sf_dir, "documents")
    key = F.expr(
        "substring(regexp_replace(lower(trim(text)), '\\\\s+', ' '),"
        f" 1, {SNM_KEY_LEN})"
    )
    keyed = tables.spread(docs, "doc_id").select(
        "doc_id",
        key.alias("k"),
        F.expr(
            "substring(regexp_replace(lower(trim(text)), '\\\\s+', ' '),"
            f" 1, {SNM_BLOCK_LEN})"
        ).alias("blk"),
    )
    ranked = keyed.select(
        "doc_id",
        "blk",
        F.row_number()
        .over(W.partitionBy("blk").orderBy("k", "doc_id"))
        .alias("rn"),
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("b.rn") > F.col("a.rn"))
            & (F.col("b.rn") <= F.col("a.rn") + (SNM_W - 1)),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    elems = _capped_shingle_table(docs)
    ea = elems.select(F.col("doc_id").alias("doc_a"), "shingle")
    eb = elems.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "shingle"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sizes = _capped_sizes_table(docs)
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


SORTED_NEIGHBORHOOD_PAIRS_ORACLE = f"""
WITH {_DUCK_SHINGLE_CTE},
keyed AS (
  SELECT doc_id,
         substring(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                   1, {SNM_KEY_LEN}) AS k,
         substring(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                   1, {SNM_BLOCK_LEN}) AS blk
  FROM documents
),
ranked AS (
  SELECT doc_id, blk,
         row_number() OVER (PARTITION BY blk ORDER BY k, doc_id) AS rn
  FROM keyed
),
cand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
         greatest(a.doc_id, b.doc_id) AS doc_b
  FROM ranked a
  JOIN ranked b
    ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + {SNM_W - 1}
),
capped AS (
  SELECT s.doc_id, s.shingle
  FROM shingles s
  JOIN (SELECT shingle FROM shingles
        GROUP BY 1 HAVING count(*) <= {SHINGLE_DF_CAP}) keep
    ON s.shingle = keep.shingle
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN capped ea ON ea.doc_id = c.doc_a
  WHERE EXISTS (SELECT 1 FROM capped eb
                WHERE eb.doc_id = c.doc_b AND eb.shingle = ea.shingle)
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= {JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Blocking-strategy recall audit (all four candidate generators vs truth)
# --------------------------------------------------------------------------

_BLOCKING_STRATEGIES = (
    ("minhash", 2),
    ("simhash", 4),
    ("prefix_filter", 8),
    ("sorted_neighborhood", 16),
    ("winnowing", 32),
)


@query(family="dedup")
def blocking_recall_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(strategy, n_emitted, n_true, n_hit, recall): every candidate-
    generation strategy in the module — MinHash bands, SimHash
    bit-blocks, PPJoin prefixes, sorted-neighborhood windows —
    scored against the exact df-capped inverted-index join
    (ngram_jaccard_pairs, the ground truth a production pipeline
    can't afford corpus-wide). THE summary table for choosing a
    blocking tier: recall tells you what each cheap strategy misses,
    n_emitted what it costs downstream. Same bitmask reduction as
    dedup_tier_agreement: each set tags pairs with a power-of-two
    bit, one union rolls up to a per-pair membership mask, and every
    reported count is a conditional sum over the <=64-row mask
    histogram — the five pair sets shuffle exactly once.

    The detectors differ in similarity space by design (simhash
    verifies hamming, prefix_filter uses the uncapped universe), so
    recall < 1 here is a *measurement* of that definition gap plus
    band/window misses, not an implementation bug — which is exactly
    what the audit exists to quantify.

    Scale: the expensive part is the four detectors (shared pins:
    shingles once, signatures once); the reduction is id-pair-width
    with a constant-size histogram."""
    docs = tables.table(spark, sf_dir, "documents")
    _shingle_table(docs)  # warm the shared root pin once (see
    # dedup_tier_agreement_query: removing this measured SLOWER)
    gens = {
        "truth": ngram_jaccard_pairs_query,
        "minhash": minhash_lsh_pairs_query,
        "simhash": simhash_pairs_query,
        "prefix_filter": prefix_filter_pairs_query,
        "sorted_neighborhood": sorted_neighborhood_pairs_query,
        "winnowing": winnowing_pairs_query,
    }
    # Same scheduling as dedup_tier_agreement: each set's plan builds
    # on its own thread so the eager shared-pin materializations
    # (signatures -> candidates, capped index, simhash sigs) run as
    # overlapping Spark jobs instead of a serial chain — measured
    # 22.4s -> 9.9s solo at sf0.1 for this audit.
    bits = dict(_BLOCKING_STRATEGIES, truth=1)
    # three of the six strategies ARE detector tiers — read the shared
    # tier-pair pins so the audit chain builds each pair set once
    tier_of = {"truth": "ngram", "minhash": "minhash", "simhash": "simhash"}

    def _tagged(name: str) -> DataFrame:
        tier = tier_of.get(name)
        base = (
            _tier_pairs(spark, sf_dir, tier)
            if tier
            else gens[name](spark, sf_dir)
        )
        return base.select(
            "doc_a", "doc_b", F.lit(bits[name]).alias("bit")
        )

    parts = _parallel(spark, *(partial(_tagged, name) for name in gens))
    tagged = parts[0]
    for part in parts[1:]:
        tagged = tagged.unionAll(part)
    hist = (
        tagged.groupBy("doc_a", "doc_b")
        .agg(F.sum("bit").alias("mask"))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dom = spark.createDataFrame(
        list(_BLOCKING_STRATEGIES), "strategy string, bit int"
    )
    # LEFT join the literal strategy domain against the histogram
    # (same empty-pair contract as dedup_tier_agreement above): with
    # zero candidate pairs anywhere, the oracle still emits all 5
    # strategy rows with zero counts, so the Spark side must too.
    agg = (
        dom.join(hist, F.lit(True), "left")
        .groupBy("strategy")
        .agg(
            F.sum(F.expr("case when (mask & bit) != 0 then cnt else 0 end"))
            .cast("bigint")
            .alias("n_emitted"),
            F.sum(F.expr("case when (mask & 1) != 0 then cnt else 0 end"))
            .cast("bigint")
            .alias("n_true"),
            F.sum(
                F.expr(
                    "case when (mask & bit) != 0 and (mask & 1) != 0"
                    " then cnt else 0 end"
                )
            )
            .cast("bigint")
            .alias("n_hit"),
        )
    )
    return agg.select(
        "strategy",
        "n_emitted",
        "n_true",
        "n_hit",
        # a corpus with NO true pairs (but band/bit collisions) makes
        # n_true 0 — recall is undefined, not a crash (ANSI raises)
        F.when(
            F.col("n_true") > 0,
            F.col("n_hit").cast("double") / F.col("n_true").cast("double"),
        ).alias("recall"),
    )


def _blocking_recall_oracle() -> str:
    gen_sql = {
        "minhash": MINHASH_LSH_ORACLE,
        "simhash": SIMHASH_PAIRS_ORACLE,
        "prefix_filter": PREFIX_FILTER_PAIRS_ORACLE,
        "sorted_neighborhood": SORTED_NEIGHBORHOOD_PAIRS_ORACLE,
        "winnowing": WINNOWING_PAIRS_ORACLE,
    }
    ctes = ["truth AS MATERIALIZED (SELECT doc_a, doc_b FROM ("
            + NGRAM_JACCARD_ORACLE.strip().rstrip(";") + "))"]
    for name, _bit in _BLOCKING_STRATEGIES:
        ctes.append(
            f"s_{name} AS MATERIALIZED (SELECT doc_a, doc_b FROM "
            f"({gen_sql[name].strip().rstrip(';')}))"
        )
    selects = []
    for name, _bit in _BLOCKING_STRATEGIES:
        selects.append(f"""
SELECT strategy, n_emitted, n_true, n_hit,
       CASE WHEN n_true > 0 THEN
         CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)
       END AS recall
FROM (
  SELECT '{name}' AS strategy,
         (SELECT CAST(count(*) AS BIGINT) FROM s_{name}) AS n_emitted,
         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
         (SELECT CAST(count(*) AS BIGINT) FROM s_{name} x
          WHERE EXISTS (SELECT 1 FROM truth t
                        WHERE t.doc_a = x.doc_a AND t.doc_b = x.doc_b))
           AS n_hit
)""")
    return "WITH " + ",\n".join(ctes) + "\nUNION ALL\n".join(selects)


BLOCKING_RECALL_AUDIT_ORACLE = _blocking_recall_oracle()


# --------------------------------------------------------------------------
# Cohen's kappa between detector tiers (chance-corrected agreement)
# --------------------------------------------------------------------------


@query(family="dedup")
def detector_kappa_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_docs, flagged_minhash, flagged_simhash, flagged_both,
    observed_agreement, expected_agreement, kappa): Cohen's kappa
    between the MinHash-LSH and SimHash detectors on the PER-DOCUMENT
    "is flagged as a near-duplicate" decision — the chance-corrected
    completion of dedup_tier_agreement's raw overlap counts: when
    duplicates are rare, two detectors agree on almost every document
    by saying "clean" alone, so raw agreement is always high; kappa
    discounts exactly that base-rate inflation and reports how much
    the detectors agree BEYOND chance.

    All counts are exact integers from the pinned pair sets (a doc is
    flagged iff it appears on either side of any emitted pair); the
    po/pe/kappa ratios are three final double divisions with a
    guarded degenerate branch (pe = 1 when either detector is
    constant — kappa undefined, reported NULL identically on both
    engines).

    Scale: flag derivation is two id-width pair-set projections +
    semi-join-style distincts; the contingency table is one scan of
    the doc ids with two broadcast membership joins — nothing
    pair-quadratic beyond the detectors themselves (shared pins)."""
    docs = tables.table(spark, sf_dir, "documents").select("doc_id")
    _shingle_table(tables.table(spark, sf_dir, "documents"))

    def flags(pairs: DataFrame) -> DataFrame:
        return (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .union(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )

    mh = flags(_tier_pairs(spark, sf_dir, "minhash")).withColumn(
        "f_mh", F.lit(1)
    )
    sh = flags(_tier_pairs(spark, sf_dir, "simhash")).withColumn(
        "f_sh", F.lit(1)
    )
    tab = (
        docs.join(F.broadcast(mh), "doc_id", "left")
        .join(F.broadcast(sh), "doc_id", "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce("f_mh", F.lit(0))).cast("bigint").alias("a"),
            F.sum(F.coalesce("f_sh", F.lit(0))).cast("bigint").alias("b"),
            F.sum(
                F.coalesce("f_mh", F.lit(0)) * F.coalesce("f_sh", F.lit(0))
            )
            .cast("bigint")
            .alias("both"),
        )
    )
    n = F.col("n_docs").cast("double")
    a = F.col("a").cast("double")
    b = F.col("b").cast("double")
    both = F.col("both").cast("double")
    po = (both + (n - a - b + both)) / n
    pe = (a * b + (n - a) * (n - b)) / (n * n)
    return tab.select(
        "n_docs",
        F.col("a").alias("flagged_minhash"),
        F.col("b").alias("flagged_simhash"),
        F.col("both").alias("flagged_both"),
        po.alias("observed_agreement"),
        pe.alias("expected_agreement"),
        F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


DETECTOR_KAPPA_ORACLE = f"""
WITH mh_pairs AS (
{MINHASH_LSH_ORACLE}
),
sh_pairs AS (
{SIMHASH_PAIRS_ORACLE}
),
mh AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM mh_pairs
    UNION ALL SELECT doc_b FROM mh_pairs
  )
),
sh AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM sh_pairs
    UNION ALL SELECT doc_b FROM sh_pairs
  )
),
tab AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(sum(CASE WHEN m.doc_id IS NOT NULL AND s.doc_id IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_both
  FROM documents d
  LEFT JOIN mh m ON m.doc_id = d.doc_id
  LEFT JOIN sh s ON s.doc_id = d.doc_id
)
SELECT n_docs, a AS flagged_minhash, b AS flagged_simhash,
       n_both AS flagged_both,
       (CAST(n_both AS DOUBLE) + (CAST(n_docs AS DOUBLE) - a - b + n_both))
         / CAST(n_docs AS DOUBLE) AS observed_agreement,
       (CAST(a AS DOUBLE) * b + (CAST(n_docs AS DOUBLE) - a)
          * (CAST(n_docs AS DOUBLE) - b))
         / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
         AS expected_agreement,
       CASE WHEN (CAST(a AS DOUBLE) * b + (CAST(n_docs AS DOUBLE) - a)
                    * (CAST(n_docs AS DOUBLE) - b))
                 / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)) < 1.0
            THEN ((CAST(n_both AS DOUBLE)
                   + (CAST(n_docs AS DOUBLE) - a - b + n_both))
                    / CAST(n_docs AS DOUBLE)
                  - (CAST(a AS DOUBLE) * b + (CAST(n_docs AS DOUBLE) - a)
                       * (CAST(n_docs AS DOUBLE) - b))
                    / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
                 / (1.0 - (CAST(a AS DOUBLE) * b
                           + (CAST(n_docs AS DOUBLE) - a)
                             * (CAST(n_docs AS DOUBLE) - b))
                          / (CAST(n_docs AS DOUBLE)
                             * CAST(n_docs AS DOUBLE)))
            END AS kappa
FROM tab
"""


# --------------------------------------------------------------------------
# MinHash estimator-error audit (signature agreement vs exact Jaccard)
# --------------------------------------------------------------------------


@query(family="dedup")
def minhash_estimate_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, est_matches, est_jaccard, exact_jaccard,
    abs_err): for every LSH candidate pair, the MinHash ESTIMATE of
    Jaccard (fraction of the 32 signature components that agree — the
    unbiased estimator the sketch exists for) next to the exact
    shingle Jaccard, with the absolute error. The estimator-quality
    audit a dedup pipeline runs when tuning N_HASHES/band shape:
    E[err] ~ sqrt(j(1-j)/32) ~ 0.07, and a systematic deviation means
    the hash family or banding is broken — cheaper and more direct
    than re-measuring end-to-end recall.

    Determinism: signature components are exact integers (affine
    hashes mod a Mersenne prime); est_jaccard divides by 32 (a power
    of two — exact dyadic); exact_jaccard is the usual
    integer-ratio division. Scale: two id-width joins of the pinned
    signature table against the pinned candidate list plus the
    candidate-restricted shingle intersection — never a corpus-wide
    pair scan."""
    docs = tables.table(spark, sf_dir, "documents")
    sigs = _signature_table(docs)
    cand = _candidate_table(docs)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{j}").alias(f"a{j}") for j in range(N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{j}").alias(f"b{j}") for j in range(N_HASHES)],
    )
    est = F.expr(
        " + ".join(
            f"(case when a{j} = b{j} then 1 else 0 end)"
            for j in range(N_HASHES)
        )
    ).cast("bigint")
    est_tab = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", est.alias("est_matches"))
    )
    # LEFT join: a candidate pair whose shingle sets are DISJOINT
    # (pure band-collision false positive) is the estimator's
    # worst case — keep it with exact_jaccard 0, don't drop it.
    exact = _pair_jaccard(_shingle_table(docs), cand).select(
        "doc_a", "doc_b", F.col("jaccard").alias("exact_jaccard")
    )
    ej = F.coalesce(F.col("exact_jaccard"), F.lit(0.0))
    return est_tab.join(exact, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "est_matches",
        (F.col("est_matches").cast("double") / F.lit(float(N_HASHES))).alias(
            "est_jaccard"
        ),
        ej.alias("exact_jaccard"),
        F.abs(
            F.col("est_matches").cast("double") / F.lit(float(N_HASHES)) - ej
        ).alias("abs_err"),
    )


def _minhash_estimate_oracle() -> str:
    est = " + ".join(
        f"(CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END)"
        for j in range(N_HASHES)
    )
    return f"""
WITH {_DUCK_SHINGLE_CTE},
hashed AS (
  SELECT doc_id, {_BASE_DUCK} AS base FROM shingles
),
sigs AS (
  SELECT doc_id,
         {", ".join(f"min(({a} * base + {b}) % {_MERSENNE_P}) AS h{j}" for j, (a, b) in enumerate(_AFFINE))}
  FROM hashed GROUP BY doc_id
),
bands AS ({_duck_band_rows()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b, CAST({est} AS BIGINT) AS est_matches
  FROM cand c
  JOIN sigs a ON a.doc_id = c.doc_a
  JOIN sigs b ON b.doc_id = c.doc_b
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT e.doc_a, e.doc_b, e.est_matches,
       CAST(e.est_matches AS DOUBLE) / {N_HASHES}.0 AS est_jaccard,
       CAST(coalesce(i.i, 0) AS DOUBLE)
         / (na.n + nb.n - coalesce(i.i, 0)) AS exact_jaccard,
       abs(CAST(e.est_matches AS DOUBLE) / {N_HASHES}.0
           - CAST(coalesce(i.i, 0) AS DOUBLE)
             / (na.n + nb.n - coalesce(i.i, 0))) AS abs_err
FROM est e
LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN sizes na ON na.doc_id = e.doc_a
JOIN sizes nb ON nb.doc_id = e.doc_b
"""


MINHASH_ESTIMATE_AUDIT_ORACLE = _minhash_estimate_oracle()


# --------------------------------------------------------------------------
# Per-tier token-savings audit (what each detector is WORTH in tokens)
# --------------------------------------------------------------------------


@query(family="dedup")
def dedup_token_savings_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tier, n_docs_dropped, tokens_dropped, tokens_total,
    savings_pml): the TRAINING-TOKEN value of each near-dup detector —
    under the keep-min-id convention (every doc that appears as doc_b
    in a tier's pair set is dropped), how many documents and
    whitespace tokens each tier would remove, as permille of the
    corpus. This is the number that decides whether a tier pays for
    its compute at 100 TB: detector_kappa says the tiers agree;
    blocking_recall_audit says what candidates cost; THIS says what
    the dedup is worth in the currency the training run spends.

    Same reduction shape as dedup_tier_agreement: each tier tags its
    dropped docs with a power-of-two bit, one union rolls up a
    per-doc membership mask (docs in any pair only — id-width), token
    counts join once, and every reported sum is a conditional sum
    with the literal tier domain LEFT-joined (a pair-free corpus
    emits all 4 tiers with zero savings, matching the oracle's
    scalar-subquery form)."""
    from .textops import tokens_expr

    docs = tables.table(spark, sf_dir, "documents")
    _shingle_table(docs)  # warm the shared root pin once

    def _dropped(i_t: tuple[int, str]) -> DataFrame:
        i, t = i_t
        return (
            _tier_pairs(spark, sf_dir, t)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .select("doc_id", F.lit(1 << i).alias("bit"))
        )

    parts = _parallel(
        spark, *(partial(_dropped, it) for it in enumerate(_TIERS))
    )
    tagged = parts[0]
    for part in parts[1:]:
        tagged = tagged.unionAll(part)
    toks = docs.select(
        "doc_id", F.size(tokens_expr()).cast("bigint").alias("nt")
    )
    masked = (
        tagged.groupBy("doc_id")
        .agg(F.sum("bit").alias("mask"))
        .join(toks, "doc_id")
    )
    total = toks.agg(F.sum("nt").cast("bigint").alias("tokens_total"))
    domain = spark.createDataFrame(
        [(t, 1 << i) for i, t in enumerate(_TIERS)], "tier string, bit int"
    )
    zero = F.lit(0).cast("bigint")
    hit = F.expr("mask & bit") != 0
    return (
        domain.join(masked, F.lit(True), "left")
        .groupBy("tier")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_dropped"),
            F.sum(F.when(hit, F.col("nt")).otherwise(zero))
            .cast("bigint")
            .alias("tokens_dropped"),
        )
        .crossJoin(F.broadcast(total))
        .filter(F.col("tokens_total") > 0)
        .select(
            "tier",
            "n_docs_dropped",
            "tokens_dropped",
            "tokens_total",
            F.expr("(1000L * tokens_dropped) div tokens_total").alias(
                "savings_pml"
            ),
        )
    )


def _token_savings_oracle() -> str:
    tier_sql = {
        "simhash": SIMHASH_PAIRS_ORACLE,
        "minhash": MINHASH_LSH_ORACLE,
        "ngram": NGRAM_JACCARD_ORACLE,
        "edit": EDIT_DISTANCE_PAIRS_ORACLE,
    }
    # ts_toks, not "toks": the tier oracles define their own inner
    # toks CTE, and DuckDB resolves the inner reference against an
    # outer MATERIALIZED CTE of the same name (binder error).
    ctes = ["ts_toks AS MATERIALIZED (SELECT doc_id, "
            "CAST(len(list_filter(string_split_regex(lower(text), "
            "'\\W+'), x -> x <> '')) AS BIGINT) AS nt FROM documents)",
            "tot AS (SELECT CAST(sum(nt) AS BIGINT) AS tokens_total "
            "FROM ts_toks)"]
    for t in _TIERS:
        ctes.append(
            f"d_{t} AS MATERIALIZED (SELECT DISTINCT doc_b AS doc_id FROM "
            f"({tier_sql[t].strip().rstrip(';')}))"
        )
    selects = []
    for t in _TIERS:
        selects.append(f"""
SELECT '{t}' AS tier,
       (SELECT CAST(count(*) AS BIGINT) FROM d_{t}) AS n_docs_dropped,
       (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT)
        FROM ts_toks JOIN d_{t} USING (doc_id)) AS tokens_dropped,
       tokens_total,
       (1000 * (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT)
                FROM ts_toks JOIN d_{t} USING (doc_id))) // tokens_total
         AS savings_pml
FROM tot WHERE tokens_total > 0""")
    return "WITH " + ",\n".join(ctes) + "\nUNION ALL\n".join(selects)


DEDUP_TOKEN_SAVINGS_ORACLE = _token_savings_oracle()


# --------------------------------------------------------------------------
# Cross-source duplication matrix (who copies from whom)
# --------------------------------------------------------------------------


@query(family="dedup")
def source_dedup_matrix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, n_pairs, n_cross): the near-dup pair mass
    between every ordered source pair (source_a <= source_b
    lexically), from the exact capped-shingle Jaccard detector — the
    PROVENANCE view of deduplication: diagonal cells are intra-source
    boilerplate, off-diagonal cells are mirror/syndication
    relationships between feeds, the thing that decides whether to
    dedup BEFORE or AFTER source-level mixture weighting (a source
    whose mass is mostly cross-source copies contributes less novel
    signal than its token count claims). n_cross flags the
    off-diagonal count explicitly so the syndication share is one
    filter away.

    Scale: one id-width join of the (already candidate-bounded) pair
    table against the doc->source projection on each side, then a
    rollup to at most |sources|^2 rows."""
    docs = tables.table(spark, sf_dir, "documents")
    pairs = _tier_pairs(spark, sf_dir, "ngram")
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    tagged = pairs.join(sa, "doc_a").join(sb, "doc_b").select(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    )
    return tagged.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.when(F.col("source_a") != F.col("source_b"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_cross"),
    )


SOURCE_DEDUP_MATRIX_ORACLE = f"""
WITH pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({NGRAM_JACCARD_ORACLE.strip().rstrip(";")})
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN da.source <> db.source THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cross
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# McNemar paired test between two near-dup detectors
# --------------------------------------------------------------------------

MCNEMAR_A = "minhash"
MCNEMAR_B = "simhash"


@query(family="dedup")
def detector_mcnemar_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_discordant_a, n_discordant_b, n_both, chi2): McNemar's
    paired test on the two cheap near-dup detectors' decisions over
    the pair universe either flags — b = pairs MinHash flags that
    SimHash misses, c = the reverse, chi2 = (b - c)^2 / (b + c). The
    inferential upgrade over ``detector_kappa``'s descriptive
    agreement: kappa says HOW MUCH the detectors agree, McNemar says
    whether their disagreement is SYMMETRIC (chi2 small — they miss
    different duplicates at the same rate, so they're complementary)
    or one-sided (chi2 large — one detector systematically
    under-flags and needs retuning, the actionable signal).

    Pairs a detector never scores are true negatives for it; the test
    conditions on the union universe, which is McNemar's contract
    (concordant negatives carry no information). All counts are exact
    integers off one full-outer join of the two id-pair tables; chi2
    is one division, guarded for b + c = 0.

    Scale: the two pair sets ride the shared shingle/signature pins
    (see _tier_pairs' contract); the outer join and counts are
    id-pair-width. Reference mirror: the poison-pill/audit tier's
    "two paths must agree" checks (AuditService.java) lifted to
    detector pairs."""
    a = _tier_pairs(spark, sf_dir, MCNEMAR_A).select(
        "doc_a", "doc_b", F.lit(1).alias("in_a")
    )
    b = _tier_pairs(spark, sf_dir, MCNEMAR_B).select(
        "doc_a", "doc_b", F.lit(1).alias("in_b")
    )
    both = a.join(b, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_a", F.lit(0)).alias("in_a"),
        F.coalesce("in_b", F.lit(0)).alias("in_b"),
    )
    agg = both.agg(
        F.sum(
            ((F.col("in_a") == 1) & (F.col("in_b") == 0)).cast("int")
        ).cast("bigint").alias("n_discordant_a"),
        F.sum(
            ((F.col("in_a") == 0) & (F.col("in_b") == 1)).cast("int")
        ).cast("bigint").alias("n_discordant_b"),
        F.sum(
            ((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("int")
        ).cast("bigint").alias("n_both"),
        F.count(F.lit(1)).cast("bigint").alias("n_univ"),
    )
    d = F.col("n_discordant_a") - F.col("n_discordant_b")
    s = F.col("n_discordant_a") + F.col("n_discordant_b")
    return agg.filter(F.col("n_univ") > 0).select(
        "n_discordant_a",
        "n_discordant_b",
        "n_both",
        F.when(
            s > 0, (d * d).cast("double") / s.cast("double")
        ).otherwise(F.lit(0.0)).alias("chi2"),
    )


def _mcnemar_oracle() -> str:
    tier_sql = {
        "minhash": MINHASH_LSH_ORACLE,
        "simhash": SIMHASH_PAIRS_ORACLE,
    }
    return f"""
WITH pa AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({tier_sql[MCNEMAR_A].strip().rstrip(';')})
),
pb AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({tier_sql[MCNEMAR_B].strip().rstrip(';')})
),
u AS (
  SELECT COALESCE(a.in_a, 0) AS in_a, COALESCE(b.in_b, 0) AS in_b
  FROM (SELECT doc_a, doc_b, 1 AS in_a FROM pa) a
  FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS in_b FROM pb) b
  USING (doc_a, doc_b)
),
agg AS (
  SELECT
    CAST(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_discordant_a,
    CAST(sum(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_discordant_b,
    CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_both,
    CAST(count(*) AS BIGINT) AS n_univ
  FROM u
)
SELECT n_discordant_a, n_discordant_b, n_both,
       CASE WHEN n_discordant_a + n_discordant_b > 0 THEN
         CAST((n_discordant_a - n_discordant_b)
              * (n_discordant_a - n_discordant_b) AS DOUBLE)
         / CAST(n_discordant_a + n_discordant_b AS DOUBLE)
       ELSE 0.0 END AS chi2
FROM agg
WHERE n_univ > 0
"""


DETECTOR_MCNEMAR_ORACLE = _mcnemar_oracle()

# --------------------------------------------------------------------------
# SimHash threshold sweep (round 8): candidate-set distance histogram
# --------------------------------------------------------------------------


@query()
def simhash_threshold_sweep_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(hamming, n_pairs): the exact Hamming-distance histogram of the
    SimHash CANDIDATE pair set (every pair colliding on >= 1 of the 5
    bands), unfiltered by HAMMING_THRESHOLD — the evidence table for
    choosing that threshold. ``simhash_pairs`` answers "who is a
    near-dup at d <= 4"; this answers "where does the candidate mass
    actually sit": a valley between the near-dup lobe and the random
    lobe says the cut is safe, mass piled right at the cut says the
    detector is truncating a real duplicate family. Recall note
    (honest contract): band collision is pigeonhole-complete only for
    d <= HAMMING_THRESHOLD, so bins beyond it count only pairs that
    still share a band — exactly the set a threshold RAISE would
    admit, which is what the decision needs.

    All counts exact (64-bit signatures, bit_count, distinct pairs);
    scale rides the banded candidate join — nothing all-pairs, the
    same posting-list shape as simhash_pairs, minus its filter."""
    sigs = _pin(simhash_query(spark, sf_dir))
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(
                            f"shiftright(simhash, {off}) & {(1 << w) - 1}"
                        ).alias("bv"),
                    )
                    for i, (off, w) in enumerate(_SIMHASH_BOUNDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "simhash", "bs.band", "bs.bv")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
    )
    return cand.groupBy("hamming").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )


SIMHASH_THRESHOLD_SWEEP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                            x -> x <> '')) AS tok
  FROM documents
),
weighted AS (
  SELECT doc_id, md5(tok) AS h, count(*) AS cnt FROM toks GROUP BY doc_id, tok
),
bit_sums AS (
  SELECT doc_id,
         {", ".join(f"SUM(cnt * ({_bit_pm('duck', b)})) AS s{b}" for b in range(1, SIMHASH_BITS + 1))}
  FROM weighted GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
         {" + ".join(f"(CASE WHEN s{b} > 0 THEN CAST({1 << (b - 1)} AS BIGINT) ELSE 0 END)" for b in range(1, SIMHASH_BITS + 1))}
             AS simhash
  FROM bit_sums
),
bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, simhash, {i} AS band, (simhash >> {off}) & {(1 << w) - 1} AS bv FROM sigs" for i, (off, w) in enumerate(_SIMHASH_BOUNDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
FROM cand GROUP BY 1
"""

# --------------------------------------------------------------------------
# Capture-recapture estimate of the TOTAL near-dup pair population
# --------------------------------------------------------------------------


@query(family="dedup")
def dup_capture_recapture_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_a, n_b, n_both, est_total, est_missed_by_both): the
    Lincoln-Petersen/Chapman capture-recapture estimate of how many
    near-dup pairs EXIST, from how the two independent detectors'
    catches overlap — MinHash is capture 1, SimHash is capture 2,
    and pairs flagged by both are the marked recaptures. The question
    every dedup report dodges ("how many duplicates did we MISS?")
    answered with the estimator ecology uses for exactly this
    epistemic situation. Chapman's form (n_a+1)(n_b+1)/(n_both+1) - 1
    is used (finite-sample unbiased-ish, never divides by zero).
    Caveat in the contract: the detectors are positively correlated
    (both key on lexical overlap), so the estimate is a LOWER bound
    on the true pair population — still the defensible floor for
    "what remains".

    Exactness: the three counts are exact BIGINTs off one full-outer
    join of the pair sets; the estimator is one fixed IEEE
    expression. Scale: rides the shared shingle/signature pins (the
    _tier_pairs contract); id-pair-width joins only."""
    a = _tier_pairs(spark, sf_dir, MCNEMAR_A).select(
        "doc_a", "doc_b", F.lit(1).alias("in_a")
    )
    b = _tier_pairs(spark, sf_dir, MCNEMAR_B).select(
        "doc_a", "doc_b", F.lit(1).alias("in_b")
    )
    both = a.join(b, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_a", F.lit(0)).alias("in_a"),
        F.coalesce("in_b", F.lit(0)).alias("in_b"),
    )
    agg = both.agg(
        F.sum("in_a").cast("bigint").alias("n_a"),
        F.sum("in_b").cast("bigint").alias("n_b"),
        F.sum(
            ((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("int")
        ).cast("bigint").alias("n_both"),
    )
    est = (
        (F.col("n_a") + 1).cast("double")
        * (F.col("n_b") + 1).cast("double")
        / (F.col("n_both") + 1).cast("double")
        - 1.0
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_both",
        est.alias("est_total"),
        (
            est
            - (F.col("n_a") + F.col("n_b") - F.col("n_both"))
            .cast("double")
        ).alias("est_missed_by_both"),
    )


def _capture_recapture_oracle() -> str:
    tier_sql = {
        "minhash": MINHASH_LSH_ORACLE,
        "simhash": SIMHASH_PAIRS_ORACLE,
    }
    return f"""
WITH pa AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({tier_sql[MCNEMAR_A].strip().rstrip(';')})
),
pb AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({tier_sql[MCNEMAR_B].strip().rstrip(';')})
),
u AS (
  SELECT COALESCE(a.in_a, 0) AS in_a, COALESCE(b.in_b, 0) AS in_b
  FROM (SELECT doc_a, doc_b, 1 AS in_a FROM pa) a
  FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS in_b FROM pb) b
  USING (doc_a, doc_b)
),
agg AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
         CAST(sum(in_b) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_both
  FROM u
)
SELECT n_a, n_b, n_both,
       CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE)
         / CAST(n_both + 1 AS DOUBLE) - 1.0 AS est_total,
       CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE)
         / CAST(n_both + 1 AS DOUBLE) - 1.0
         - CAST(n_a + n_b - n_both AS DOUBLE) AS est_missed_by_both
FROM agg
"""


DUP_CAPTURE_RECAPTURE_ORACLE = _capture_recapture_oracle()

# --------------------------------------------------------------------------
# Novelty decay curve (first-seen shingle fraction by ingestion decile)
# --------------------------------------------------------------------------

_NOV_FP = 1_000_000_000


@query()
def novelty_decay_curve_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(decile, n_docs, mean_novelty): how per-document 3-gram novelty
    (the ``doc_ngram_novelty`` fraction of shingles this doc is the
    FIRST to contribute) decays across ingestion-order deciles — the
    "is new data still new" curve. A healthy growing corpus flattens
    well above zero; a curve that crashes toward zero by decile 5
    says further same-source ingestion buys tokens, not information —
    the macro version of the per-doc novelty gate in
    ``corpus_keep_full``.

    Deciles are VALUE deciles of doc_id against the observed
    [min, max] id range (ids are the ingestion order; quasi-dense ids
    make this the rank decile without any corpus-wide ranking window
    — the construction that keeps the curve computable at 100 TB).
    Novelty is fixed-pointed per doc (floor(1e9 * x)) before the
    per-decile sum, so the means are exact-integer ratios.

    Scale: rides the shingle first-seen rollup (one shuffle on
    shingle), then a 10-row rollup."""
    nov = doc_ngram_novelty_query(spark, sf_dir).select(
        "doc_id",
        F.floor(F.lit(float(_NOV_FP)) * F.col("novelty"))
        .cast("bigint")
        .alias("nov_fp"),
    )
    bounds = nov.agg(
        F.min("doc_id").cast("bigint").alias("lo"),
        F.max("doc_id").cast("bigint").alias("hi"),
    )
    bucketed = nov.crossJoin(F.broadcast(bounds)).select(
        F.expr("((doc_id - lo) * 10) div (hi - lo + 1)")
        .cast("int")
        .alias("decile"),
        "nov_fp",
    )
    return bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (
            F.sum("nov_fp").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(float(_NOV_FP))
        ).alias("mean_novelty"),
    )


def _novelty_decay_oracle() -> str:
    return f"""
WITH nov_base AS ({DOC_NGRAM_NOVELTY_ORACLE.strip().rstrip(';')}),
nov AS (
  SELECT doc_id,
         CAST(floor(CAST({_NOV_FP} AS DOUBLE) * novelty) AS BIGINT)
           AS nov_fp
  FROM nov_base
),
bounds AS (
  SELECT CAST(min(doc_id) AS BIGINT) AS lo,
         CAST(max(doc_id) AS BIGINT) AS hi
  FROM nov
),
bucketed AS (
  SELECT CAST(((n.doc_id - b.lo) * 10) // (b.hi - b.lo + 1) AS INT)
           AS decile,
         n.nov_fp
  FROM nov n, bounds b
)
SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nov_fp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         / CAST({_NOV_FP} AS DOUBLE) AS mean_novelty
FROM bucketed GROUP BY 1
"""


NOVELTY_DECAY_CURVE_ORACLE = _novelty_decay_oracle()


# --------------------------------------------------------------------------
# Cochran's Q over ALL four near-dup detectors
# --------------------------------------------------------------------------


def _tier_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, tier): the four detectors' pair sets, each row
    labelled with its tier. The pair sets build concurrently under
    _tier_pairs' contract."""

    def _tagged(t: str) -> DataFrame:
        return _tier_pairs(spark, sf_dir, t).select(
            "doc_a", "doc_b", F.lit(t).alias("tier")
        )

    parts = _parallel(spark, *(partial(_tagged, t) for t in _TIERS))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return union


def _tier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, x_<tier>...): the 0/1 flag matrix over the union
    pair universe — one row per pair, one column per detector."""
    return _tier_union(spark, sf_dir).groupBy("doc_a", "doc_b").agg(
        *[
            F.max((F.col("tier") == t).cast("int")).alias(f"x_{t}")
            for t in _TIERS
        ]
    )


@query(family="dedup")
def detector_cochran_q_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_univ, t_simhash, t_minhash, t_ngram, t_edit, sum_r, sum_r2,
    q): Cochran's Q test across ALL FOUR near-dup detectors at once —
    the k-sample generalization of detector_mcnemar (which compares
    two): over the union pair universe, do the detectors flag at the
    same marginal rate? Q = (k-1)*(k*sum_j T_j^2 - (sum T)^2) /
    (k*sum_i R_i - sum_i R_i^2) with T_j the per-detector totals and
    R_i each pair's flag count, chi-square with k-1 = 3 df under H0.
    A significant Q localizes "one tier drifted" BEFORE burning a
    pairwise McNemar sweep — the omnibus-first protocol every
    multiple-testing doctrine prescribes (the BH-FDR gate downstream
    consumes exactly one omnibus p, not six).

    All inputs to Q are exact BIGINT counts off one 4-way flag
    matrix; Q itself is one division of integer-valued doubles
    (guarded: pairs ALL detectors flag contribute nothing to the
    denominator, and a fully-concordant universe emits q = 0).

    Scale: the four pair sets ride the SAME shared shingle/signature
    pins as dedup_tier_agreement (built concurrently under
    _tier_pairs' contract); the flag matrix and moments are
    id-pair-width rollups."""
    flags = _tier_flags(spark, sf_dir)
    r = sum(F.col(f"x_{t}") for t in _TIERS)
    k = len(_TIERS)
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_univ"),
        *[
            F.sum(f"x_{t}").cast("bigint").alias(f"t_{t}")
            for t in _TIERS
        ],
        F.sum(r).cast("bigint").alias("sum_r"),
        F.sum(r * r).cast("bigint").alias("sum_r2"),
    )
    tsum = sum(F.col(f"t_{t}") for t in _TIERS)
    tsq = sum(F.col(f"t_{t}") * F.col(f"t_{t}") for t in _TIERS)
    den = F.lit(k) * F.col("sum_r") - F.col("sum_r2")
    return agg.select(
        "n_univ",
        *[f"t_{t}" for t in _TIERS],
        "sum_r",
        "sum_r2",
        F.when(
            den > 0,
            (
                F.lit(k - 1)
                * (F.lit(k) * tsq - tsum * tsum).cast("double")
            )
            / den.cast("double"),
        ).otherwise(F.lit(0.0)).alias("q"),
    )


def _cochran_q_oracle() -> str:
    tier_sql = {
        "simhash": SIMHASH_PAIRS_ORACLE,
        "minhash": MINHASH_LSH_ORACLE,
        "ngram": NGRAM_JACCARD_ORACLE,
        "edit": EDIT_DISTANCE_PAIRS_ORACLE,
    }
    k = len(_TIERS)
    ctes = ",\n".join(
        f"{t} AS MATERIALIZED (SELECT doc_a, doc_b FROM "
        f"({tier_sql[t].strip().rstrip(';')}))"
        for t in _TIERS
    )
    tagged = "\nUNION ALL\n".join(
        f"SELECT doc_a, doc_b, '{t}' AS tier FROM {t}" for t in _TIERS
    )
    xcols = ",\n         ".join(
        f"max(CASE WHEN tier = '{t}' THEN 1 ELSE 0 END) AS x_{t}"
        for t in _TIERS
    )
    tcols = ",\n    ".join(
        f"CAST(sum(x_{t}) AS BIGINT) AS t_{t}" for t in _TIERS
    )
    rsum = " + ".join(f"x_{t}" for t in _TIERS)
    tsum = " + ".join(f"t_{t}" for t in _TIERS)
    tsq = " + ".join(f"t_{t} * t_{t}" for t in _TIERS)
    return f"""
WITH {ctes},
tagged AS ({tagged}),
flags AS (
  SELECT doc_a, doc_b,
         {xcols}
  FROM tagged GROUP BY doc_a, doc_b
),
agg AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_univ,
    {tcols},
    CAST(sum({rsum}) AS BIGINT) AS sum_r,
    CAST(sum(({rsum}) * ({rsum})) AS BIGINT) AS sum_r2
  FROM flags
)
SELECT n_univ, {", ".join(f"t_{t}" for t in _TIERS)}, sum_r, sum_r2,
       CASE WHEN {k} * sum_r - sum_r2 > 0 THEN
         CAST({k - 1} * ({k} * ({tsq}) - ({tsum}) * ({tsum})) AS DOUBLE)
           / CAST({k} * sum_r - sum_r2 AS DOUBLE)
       ELSE 0.0 END AS q
FROM agg
"""


DETECTOR_COCHRAN_Q_ORACLE = _cochran_q_oracle()


# --------------------------------------------------------------------------
# Fleiss' kappa: chance-corrected agreement of all four detectors
# --------------------------------------------------------------------------


@query(family="dedup")
def fleiss_kappa_detectors_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_univ, k_raters, sum_r, sum_r2, p_bar, p_exp, kappa):
    Fleiss' kappa across the four near-dup detectors — the
    chance-corrected AGREEMENT level that detector_cochran_q's
    marginal-rate test deliberately does not report. Q answers "do
    the detectors flag at the same rate?"; kappa answers "do they
    flag the same PAIRS beyond what identical rates would already
    produce by chance?" — the Landis-Koch ladder (<0.2 slight,
    0.41-0.6 moderate, >0.8 near-perfect) is the go/no-go dial for
    collapsing the four tiers into one gate. Same conditional-
    universe caveat as the whole detector family: items are the
    UNION candidate universe, so ratings are conditional on at
    least one tier flagging.

    Exactness: with binary categories, every Fleiss ingredient is a
    linear function of the SAME three exact BIGINT aggregates the Q
    test uses (N, sum R_i, sum R_i^2 over the flag matrix): P_bar =
    (2*sum_r2 - 2k*sum_r + N*k^2 - N*k) / (N*k*(k-1)) and p =
    sum_r/(N*k), P_exp = p^2 + (1-p)^2; kappa = (P_bar - P_exp)/(1
    - P_exp) is final IEEE on those. Degenerate guard: a universe
    every detector fully flags (p = 1 -> P_exp = 1) emits NULL.

    Scale: rides the SAME shared per-tier pair pins as the rest of
    the dedup-audit chain (_tier_pairs contract); everything after
    the flag matrix is a single-row reduction."""
    flags = _tier_flags(spark, sf_dir)
    r = sum(F.col(f"x_{t}") for t in _TIERS)
    k = len(_TIERS)
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_univ"),
        F.sum(r).cast("bigint").alias("sum_r"),
        F.sum(r * r).cast("bigint").alias("sum_r2"),
    )
    n = F.col("n_univ")
    p_bar = (
        F.lit(2) * F.col("sum_r2")
        - F.lit(2 * k) * F.col("sum_r")
        + n * F.lit(k * k)
        - n * F.lit(k)
    ).cast("double") / (n * F.lit(k * (k - 1))).cast("double")
    p = F.col("sum_r").cast("double") / (n * F.lit(k)).cast("double")
    p_exp = p * p + (F.lit(1.0) - p) * (F.lit(1.0) - p)
    return agg.select(
        "n_univ",
        F.lit(k).cast("bigint").alias("k_raters"),
        "sum_r",
        "sum_r2",
        p_bar.alias("p_bar"),
        p_exp.alias("p_exp"),
        F.when(
            p_exp < 1.0, (p_bar - p_exp) / (F.lit(1.0) - p_exp)
        ).alias("kappa"),
    )


def _fleiss_kappa_oracle() -> str:
    tier_sql = {
        "simhash": SIMHASH_PAIRS_ORACLE,
        "minhash": MINHASH_LSH_ORACLE,
        "ngram": NGRAM_JACCARD_ORACLE,
        "edit": EDIT_DISTANCE_PAIRS_ORACLE,
    }
    k = len(_TIERS)
    ctes = ",\n".join(
        f"{t} AS MATERIALIZED (SELECT doc_a, doc_b FROM "
        f"({tier_sql[t].strip().rstrip(';')}))"
        for t in _TIERS
    )
    tagged = "\nUNION ALL\n".join(
        f"SELECT doc_a, doc_b, '{t}' AS tier FROM {t}" for t in _TIERS
    )
    xcols = ",\n         ".join(
        f"max(CASE WHEN tier = '{t}' THEN 1 ELSE 0 END) AS x_{t}"
        for t in _TIERS
    )
    rsum = " + ".join(f"x_{t}" for t in _TIERS)
    return f"""
WITH {ctes},
tagged AS ({tagged}),
flags AS (
  SELECT doc_a, doc_b,
         {xcols}
  FROM tagged GROUP BY doc_a, doc_b
),
agg AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_univ,
    CAST(sum({rsum}) AS BIGINT) AS sum_r,
    CAST(sum(({rsum}) * ({rsum})) AS BIGINT) AS sum_r2
  FROM flags
)
SELECT n_univ, CAST({k} AS BIGINT) AS k_raters, sum_r, sum_r2,
       CAST(2 * sum_r2 - {2 * k} * sum_r + n_univ * {k * k}
            - n_univ * {k} AS DOUBLE)
         / CAST(n_univ * {k * (k - 1)} AS DOUBLE) AS p_bar,
       (CAST(sum_r AS DOUBLE) / CAST(n_univ * {k} AS DOUBLE))
         * (CAST(sum_r AS DOUBLE) / CAST(n_univ * {k} AS DOUBLE))
         + (1.0 - CAST(sum_r AS DOUBLE) / CAST(n_univ * {k} AS DOUBLE))
           * (1.0 - CAST(sum_r AS DOUBLE)
                    / CAST(n_univ * {k} AS DOUBLE)) AS p_exp,
       CASE WHEN (CAST(sum_r AS DOUBLE) / CAST(n_univ * {k} AS DOUBLE))
                 * (CAST(sum_r AS DOUBLE) / CAST(n_univ * {k} AS DOUBLE))
                 + (1.0 - CAST(sum_r AS DOUBLE)
                          / CAST(n_univ * {k} AS DOUBLE))
                   * (1.0 - CAST(sum_r AS DOUBLE)
                            / CAST(n_univ * {k} AS DOUBLE)) < 1.0
       THEN (CAST(2 * sum_r2 - {2 * k} * sum_r + n_univ * {k * k}
                  - n_univ * {k} AS DOUBLE)
               / CAST(n_univ * {k * (k - 1)} AS DOUBLE)
             - ((CAST(sum_r AS DOUBLE) / CAST(n_univ * {k} AS DOUBLE))
                * (CAST(sum_r AS DOUBLE) / CAST(n_univ * {k} AS DOUBLE))
                + (1.0 - CAST(sum_r AS DOUBLE)
                         / CAST(n_univ * {k} AS DOUBLE))
                  * (1.0 - CAST(sum_r AS DOUBLE)
                           / CAST(n_univ * {k} AS DOUBLE))))
            / (1.0
               - ((CAST(sum_r AS DOUBLE) / CAST(n_univ * {k} AS DOUBLE))
                  * (CAST(sum_r AS DOUBLE)
                     / CAST(n_univ * {k} AS DOUBLE))
                  + (1.0 - CAST(sum_r AS DOUBLE)
                           / CAST(n_univ * {k} AS DOUBLE))
                    * (1.0 - CAST(sum_r AS DOUBLE)
                             / CAST(n_univ * {k} AS DOUBLE))))
       END AS kappa
FROM agg
"""


FLEISS_KAPPA_DETECTORS_ORACLE = _fleiss_kappa_oracle()


# --------------------------------------------------------------------------
# Kendall's W: ordinal concordance of the detectors' dup-degree rankings
# --------------------------------------------------------------------------


@query(family="dedup")
def kendall_w_detectors_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_docs, n_tiers, s4, tie_sum, w): Kendall's coefficient of
    concordance W across ALL FOUR detectors' per-document dup-DEGREE
    rankings (degree = number of emitted pairs touching the doc; rank
    with midranks over the whole corpus, massive zero-ties included).
    Completes the detector-agreement ladder ordinally: kappa compares
    two detectors' binary verdicts, Cochran's Q tests k marginal
    rates, W asks whether the detectors ORDER documents by dupness
    the same way — the readout that matters when downstream keeps the
    top-p% most-duplicated docs rather than thresholding.

    W = 12*S / (m^2(n^3-n) - m*sum_j T_j) with S = sum_i (R_i -
    m(n+1)/2)^2 and T_j = sum over judge j's tie groups of (t^3-t).
    Exactness (the inference.py midrank discipline): ranks are
    2x-scaled BIGINT midranks on per-tier (score -> count) rollups,
    so R2_i = 2*R_i and the deviation sum s4 = 4*S is an exact
    DECIMAL(38,0) integer (W = 3*s4/denominator, one final double
    division; exact while n <= ~1e12, far past any real corpus). A
    fully-tied universe (denominator 0) yields NULL identically on
    both engines.

    Scale: the four pair sets ride the SAME shared shingle/signature
    pins as dedup_tier_agreement (concurrent under _tier_pairs'
    contract); degrees are id-width rollups; midranks live on
    per-tier (distinct degree)-sized spines — bounded by the max dup
    degree, not the corpus."""
    from pyspark.sql import Window as W

    docs_t = tables.table(spark, sf_dir, "documents")
    docs = docs_t.select("doc_id")
    union = _tier_union(spark, sf_dir)
    deg = (
        union.select("tier", F.col("doc_a").alias("doc_id"))
        .unionByName(union.select("tier", F.col("doc_b").alias("doc_id")))
        .groupBy("tier", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("score"))
    )
    tiers_df = spark.createDataFrame([(t,) for t in _TIERS], "tier string")
    grid = (
        docs.crossJoin(F.broadcast(tiers_df))
        .join(deg, ["tier", "doc_id"], "left")
        .select(
            "tier",
            "doc_id",
            F.coalesce("score", F.lit(0)).cast("bigint").alias("score"),
        )
    )
    levels = _pin(
        grid.groupBy("tier", "score").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
    )
    wv = W.partitionBy("tier").orderBy("score").rowsBetween(
        W.unboundedPreceding, -1
    )
    mid = levels.select(
        "tier",
        "score",
        (
            F.lit(2) * F.coalesce(F.sum("cnt").over(wv), F.lit(0))
            + F.col("cnt")
            + F.lit(1)
        ).cast("bigint").alias("midrank2"),
    )
    r2 = (
        grid.join(mid, ["tier", "score"])
        .groupBy("doc_id")
        .agg(F.sum("midrank2").cast("bigint").alias("r2"))
    )
    nrow = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    m = len(_TIERS)
    s4 = (
        r2.crossJoin(F.broadcast(nrow))
        .select(
            (F.col("r2") - F.lit(m) * (F.col("n") + F.lit(1)))
            .cast("bigint")
            .alias("dev")
        )
        .agg(
            F.sum(F.expr("cast(dev as decimal(19,0)) * dev"))
            .cast("decimal(38,0)")
            .alias("s4")
        )
    )
    tie = levels.agg(
        F.sum(F.expr("cast(cnt as decimal(19,0)) * cnt * cnt - cnt"))
        .cast("decimal(38,0)")
        .alias("tsum")
    )
    nd = F.col("n").cast("double")
    denom = (
        F.lit(float(m * m)) * (nd * nd * nd - nd)
        - F.lit(float(m)) * F.col("tsum").cast("double")
    )
    return (
        nrow.crossJoin(F.broadcast(s4))
        .crossJoin(F.broadcast(tie))
        .select(
            F.col("n").alias("n_docs"),
            F.lit(m).cast("int").alias("n_tiers"),
            F.col("s4").cast("double").alias("s4"),
            F.col("tsum").cast("double").alias("tie_sum"),
            F.when(
                denom > 0,
                F.lit(3.0) * F.col("s4").cast("double") / denom,
            ).alias("w"),
        )
    )


def _kendall_w_oracle() -> str:
    tier_sql = {
        "simhash": SIMHASH_PAIRS_ORACLE,
        "minhash": MINHASH_LSH_ORACLE,
        "ngram": NGRAM_JACCARD_ORACLE,
        "edit": EDIT_DISTANCE_PAIRS_ORACLE,
    }
    m = len(_TIERS)
    ctes = ",\n".join(
        f"{t} AS MATERIALIZED (SELECT doc_a, doc_b FROM "
        f"({tier_sql[t].strip().rstrip(';')}))"
        for t in _TIERS
    )
    tagged = "\nUNION ALL\n".join(
        f"SELECT doc_a, doc_b, '{t}' AS tier FROM {t}" for t in _TIERS
    )
    tiers_list = ", ".join(f"'{t}'" for t in _TIERS)
    return f"""
WITH {ctes},
tagged AS ({tagged}),
deg AS (
  SELECT tier, doc_id, CAST(count(*) AS BIGINT) AS score FROM (
    SELECT tier, doc_a AS doc_id FROM tagged
    UNION ALL
    SELECT tier, doc_b AS doc_id FROM tagged
  ) GROUP BY 1, 2
),
tiers AS (SELECT unnest([{tiers_list}]) AS tier),
grid AS (
  SELECT t.tier, d.doc_id, COALESCE(g.score, 0) AS score
  FROM documents d
  CROSS JOIN tiers t
  LEFT JOIN deg g ON g.tier = t.tier AND g.doc_id = d.doc_id
),
levels AS (
  SELECT tier, score, CAST(count(*) AS BIGINT) AS cnt
  FROM grid GROUP BY 1, 2
),
mid AS (
  SELECT tier, score,
         CAST(2 * COALESCE(sum(cnt) OVER (
                PARTITION BY tier ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ), 0) + cnt + 1 AS BIGINT) AS midrank2
  FROM levels
),
r2 AS (
  SELECT g.doc_id, CAST(sum(m.midrank2) AS BIGINT) AS r2
  FROM grid g JOIN mid m ON m.tier = g.tier AND m.score = g.score
  GROUP BY 1
),
nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
s4 AS (
  SELECT CAST(sum(CAST(dev AS DECIMAL(19,0)) * dev) AS DECIMAL(38,0))
           AS s4
  FROM (
    SELECT r2.r2 - {m} * (nrow.n + 1) AS dev FROM r2 CROSS JOIN nrow
  )
),
tie AS (
  SELECT CAST(sum(CAST(cnt AS DECIMAL(19,0)) * cnt * cnt - cnt)
              AS DECIMAL(38,0)) AS tsum
  FROM levels
)
SELECT nrow.n AS n_docs,
       CAST({m} AS INTEGER) AS n_tiers,
       CAST(s4.s4 AS DOUBLE) AS s4,
       CAST(tie.tsum AS DOUBLE) AS tie_sum,
       CASE WHEN ({m}.0 * {m}.0
                  * (CAST(nrow.n AS DOUBLE) * CAST(nrow.n AS DOUBLE)
                     * CAST(nrow.n AS DOUBLE) - CAST(nrow.n AS DOUBLE))
                  - {m}.0 * CAST(tie.tsum AS DOUBLE)) > 0
            THEN 3.0 * CAST(s4.s4 AS DOUBLE)
                 / ({m}.0 * {m}.0
                    * (CAST(nrow.n AS DOUBLE) * CAST(nrow.n AS DOUBLE)
                       * CAST(nrow.n AS DOUBLE) - CAST(nrow.n AS DOUBLE))
                    - {m}.0 * CAST(tie.tsum AS DOUBLE))
       END AS w
FROM nrow CROSS JOIN s4 CROSS JOIN tie
"""


KENDALL_W_DETECTORS_ORACLE = _kendall_w_oracle()


# --------------------------------------------------------------------------
# LSH banding planner: measured bucket load per (bands, rows) scheme
# --------------------------------------------------------------------------

# Every factorization of the 32-hash signature into b bands x r rows.
# The S-curve numbers are compile-time Python floats embedded as
# LITERALS in both engines (they depend only on b, r, and the
# production JACCARD_THRESHOLD), so no cross-engine pow() ever runs.
LSH_SCHEMES = [(32, 1), (16, 2), (8, 4), (4, 8)]


def _lsh_scheme_curve(bands: int, rows: int) -> tuple[float, float]:
    # t50: the similarity where collision probability crosses 1/2
    # for the 1-(1-s^r)^b S-curve -> (1 - (1/2)^(1/b))^(1/r);
    # p_hit: collision probability AT the production threshold.
    t50 = (1.0 - 0.5 ** (1.0 / bands)) ** (1.0 / rows)
    p_hit = 1.0 - (1.0 - JACCARD_THRESHOLD**rows) ** bands
    return t50, p_hit


@query(family="dedup")
def lsh_param_plan_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bands, rows_per_band, n_buckets, collision_buckets,
    max_bucket, cand_pairs, t50, p_hit): the LSH banding PLANNER —
    for every factorization of the 32-hash minhash signature into
    b bands x r rows, the MEASURED bucket load on this corpus next
    to the scheme's theoretical S-curve. gate_ordering_plan orders
    quality gates by measured selectivity; this orders banding
    schemes by measured join cost: cand_pairs = sum over buckets of
    m(m-1)/2 is exactly the pair volume the candidate join must
    process under each scheme, so the dial between recall (p_hit at
    the production Jaccard threshold, up as r shrinks) and cost
    (cand_pairs, up as r shrinks) is read off real data, not
    assumed. The production 8x4 choice is auditable in one row: its
    p_hit at 0.8 vs the 4x8 scheme's, against their measured pair
    volumes.

    Exactness: bucket sizes and m(m-1)/2 sums are exact BIGINT off
    the SAME pinned 32-hash signatures every detector shares
    (integer-only md5-affine hashing — dedup.py:321); the pair sum
    routes through DECIMAL(38,0) (a degenerate corpus could put all
    docs in one bucket: the burrows_delta class). t50/p_hit are
    compile-time Python literals embedded identically in both
    engines — no runtime pow.

    Scale: signatures shuffle 32 ints per doc ONCE (shared pin);
    each scheme explodes to b rows/doc (60 total across schemes),
    and everything after is bucket-width rollups. The planner's own
    cost is below one candidate join at any scale."""
    docs = tables.table(spark, sf_dir, "documents")
    sigs = _signature_table(docs)
    parts = []
    for bands, r in LSH_SCHEMES:
        parts.append(
            sigs.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(bi).alias("band"),
                                F.concat_ws(
                                    ":",
                                    *[
                                        F.col(f"h{bi * r + k}").cast(
                                            "string"
                                        )
                                        for k in range(r)
                                    ],
                                ).alias("sig"),
                            )
                            for bi in range(bands)
                        ]
                    )
                ).alias("bs"),
            ).select(
                F.lit(bands).cast("bigint").alias("bands"),
                F.col("bs.band").alias("band"),
                F.col("bs.sig").alias("sig"),
            )
        )
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    buckets = union.groupBy("bands", "band", "sig").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )
    per = buckets.groupBy("bands").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum((F.col("m") > 1).cast("bigint"))
        .cast("bigint")
        .alias("collision_buckets"),
        F.max("m").cast("bigint").alias("max_bucket"),
        (
            F.sum(F.expr("cast(m as decimal(19,0)) * (m - 1)"))
            .cast("decimal(38,0)")
            / F.lit(2)
        )
        .cast("bigint")
        .alias("cand_pairs"),
    )
    curve = F.lit(None).cast("double")
    t50c = F.lit(None).cast("double")
    for bands, r in LSH_SCHEMES:
        t50, p_hit = _lsh_scheme_curve(bands, r)
        t50c = F.when(F.col("bands") == bands, F.lit(t50)).otherwise(
            t50c
        )
        curve = F.when(F.col("bands") == bands, F.lit(p_hit)).otherwise(
            curve
        )
    return per.select(
        "bands",
        (F.lit(N_HASHES) / F.col("bands")).cast("bigint").alias(
            "rows_per_band"
        ),
        "n_buckets",
        "collision_buckets",
        "max_bucket",
        "cand_pairs",
        t50c.alias("t50"),
        curve.alias("p_hit"),
    )


def _lsh_param_plan_oracle() -> str:
    scheme_rows = []
    for bands, r in LSH_SCHEMES:
        for bi in range(bands):
            sig = " || ':' || ".join(
                f"CAST(h{bi * r + k} AS VARCHAR)" for k in range(r)
            )
            scheme_rows.append(
                f"SELECT CAST({bands} AS BIGINT) AS bands, {bi} AS band,"
                f" {sig} AS sig FROM sigs"
            )
    all_bands = "\nUNION ALL\n".join(scheme_rows)
    curve_rows = ",\n    ".join(
        f"({b}, {_lsh_scheme_curve(b, r)[0]!r},"
        f" {_lsh_scheme_curve(b, r)[1]!r})"
        for b, r in LSH_SCHEMES
    )
    return f"""
WITH {_DUCK_SHINGLE_CTE},
hashed AS (
  SELECT doc_id, {_BASE_DUCK} AS base FROM shingles
),
sigs AS (
  SELECT doc_id,
         {", ".join(f"min(({a} * base + {b}) % {_MERSENNE_P}) AS h{j}" for j, (a, b) in enumerate(_AFFINE))}
  FROM hashed GROUP BY doc_id
),
allbands AS ({all_bands}),
buckets AS (
  SELECT bands, band, sig, CAST(count(*) AS BIGINT) AS m
  FROM allbands GROUP BY 1, 2, 3
),
per AS (
  SELECT bands,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS collision_buckets,
         CAST(max(m) AS BIGINT) AS max_bucket,
         CAST(CAST(sum(CAST(m AS DECIMAL(19,0)) * (m - 1))
                   AS DECIMAL(38,0)) / 2 AS BIGINT) AS cand_pairs
  FROM buckets GROUP BY 1
),
curve(bands, t50, p_hit) AS (
  VALUES
    {curve_rows}
)
SELECT p.bands, CAST({N_HASHES} / p.bands AS BIGINT) AS rows_per_band,
       p.n_buckets, p.collision_buckets, p.max_bucket, p.cand_pairs,
       c.t50, c.p_hit
FROM per p JOIN curve c ON c.bands = p.bands
"""


LSH_PARAM_PLAN_ORACLE = _lsh_param_plan_oracle()

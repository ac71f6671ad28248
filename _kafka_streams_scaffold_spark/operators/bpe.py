"""BPE tokenizer training loop — the iterative merge procedure itself,
entirely declarative.

``textops.bpe_merge_candidates`` computes ONE training step's
candidate table; this module runs the actual loop: K times, count all
adjacent symbol pairs over the (frequency-weighted) vocabulary, merge
the heaviest pair everywhere, repeat. The classic formulation is a
single-machine dict-update loop (Sennrich et al. 2016); the Spark-first
form keeps the working state as a vocabulary-sized DataFrame of
space-joined symbol strings and expresses each round as

    explode adjacent pairs -> weighted count -> top-1 -> broadcast
    -> greedy merge applied across the vocabulary

so per-round cost is O(vocabulary), never O(corpus): the only
corpus-sized work is the initial wordcount. Merge application is the
EXACT greedy-left scan of reference BPE (``a a a a -> aa aa``, the
case a string replace gets wrong), expressed as a left fold over the
symbol list — ``aggregate`` on Spark, ``list_reduce`` on DuckDB, the
same accumulator logic on both — inside whole-stage codegen, no UDF.
Every weight is an exact BIGINT with ties broken on the pair string:
the whole training trace is hash-checked.

K is fixed at BPE_ROUNDS (an unrolled chain of CTEs on the oracle
side); real training runs ~30k rounds of the same shape with the
vocabulary checkpointed every few rounds exactly like the CC/PageRank
engines checkpoint their iteration state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pinning import pin as _pin
from ..registry import query
from .textops import tokens_expr

BPE_ROUNDS = 3

# ' c h a r s ' — leading/trailing spaces so symbols are uniformly
# ' '-delimited.
_SYMS0_SPARK = (
    "concat(' ', concat_ws(' ', transform(sequence(1, length(word)),"
    " i -> substring(word, i, 1))), ' ')"
)
_SYMS0_DUCK = (
    "' ' || array_to_string(list_transform(generate_series(1, length(word)),"
    " i -> substring(word, i, 1)), ' ') || ' '"
)

_SYMS_SPARK = "filter(split(s, ' '), x -> x != '')"

# Greedy-left merge as a string-accumulator fold, seeded with a
# sentinel so the first symbol needs no special case: if the
# accumulator ends with ' <pa>' and the next symbol is <pb>, pop the
# suffix and push the merged token; else append. Identical logic (and
# therefore bit-identical output) on both engines.
_FOLD_SPARK = (
    f"concat(substring(aggregate({_SYMS_SPARK}, '§', (acc, x) -> "
    "case when endswith(acc, concat(' ', pa)) and x = pb "
    "then concat(substring(acc, 1, length(acc) - length(pa) - 1), ' ', mg) "
    "else concat(acc, ' ', x) end), 2), ' ')"
)


def _pairs(vocab: DataFrame) -> DataFrame:
    return vocab.select(
        "freq",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size({_SYMS_SPARK}) - 1, 1)),"
                f" i -> case when i < size({_SYMS_SPARK})"
                f" then concat(element_at({_SYMS_SPARK}, i), ' ',"
                f" element_at({_SYMS_SPARK}, i + 1)) end)"
            )
        ).alias("pair"),
    ).filter(F.col("pair").isNotNull())


def _top1(pairs: DataFrame) -> DataFrame:
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("weight"))
        .orderBy(F.col("weight").desc(), "pair")
        .limit(1)
    )


@query(family="cur")
def bpe_train_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(round, pair, merged, weight): the first BPE_ROUNDS merges the
    corpus vocabulary learns, with each merge's frequency-weighted
    count — the training trace a tokenizer build would persist."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    vocab = _pin(
        docs.select(F.explode(tokens_expr()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("freq", F.expr(_SYMS0_SPARK).alias("s"))
    )
    merges = []
    for r in range(1, BPE_ROUNDS + 1):
        top = _top1(_pairs(vocab)).select(
            "pair",
            "weight",
            F.expr("element_at(split(pair, ' '), 1)").alias("pa"),
            F.expr("element_at(split(pair, ' '), 2)").alias("pb"),
            F.expr("replace(pair, ' ', '')").alias("mg"),
        )
        merges.append(
            top.select(
                F.lit(r).alias("round"),
                "pair",
                F.col("mg").alias("merged"),
                "weight",
            )
        )
        vocab = vocab.crossJoin(
            F.broadcast(top.select("pa", "pb", "mg"))
        ).select("freq", F.expr(_FOLD_SPARK).alias("s"))
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def _trained_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, s): the working vocabulary AFTER the BPE_ROUNDS
    learned merges — the trained-tokenizer artifact. Round-11: a
    ``bpe.trained_vocab`` shared pin, because THREE registered
    queries replayed the identical training loop from scratch
    (bpe_encode, bpe_doc_tokens, and training_manifest via
    doc-tokens): within one scope the K-round merge replay now runs
    once. The fold is per-word and ignores the carried ``word``
    column, so encode (which only needs freq+s) reads the same pin.

    Scale shape unchanged: the merge replay is vocabulary-sized
    (never corpus-sized; the corpus is touched once for the initial
    wordcount). Real encoders apply ~30k merges with the same fold;
    K merges = K codegen'd projections over the pinned vocab frame."""

    def build() -> DataFrame:
        docs = tables.spread(
            tables.table(spark, sf_dir, "documents"), "doc_id"
        )
        vocab = _pin(
            docs.select(F.explode(tokens_expr()).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
            .select("word", "freq", F.expr(_SYMS0_SPARK).alias("s"))
        )
        for _ in range(BPE_ROUNDS):
            top = _top1(_pairs(vocab)).select(
                F.expr("element_at(split(pair, ' '), 1)").alias("pa"),
                F.expr("element_at(split(pair, ' '), 2)").alias("pb"),
                F.expr("replace(pair, ' ', '')").alias("mg"),
            )
            vocab = vocab.crossJoin(F.broadcast(top)).select(
                "word", "freq", F.expr(_FOLD_SPARK).alias("s")
            )
        return vocab

    from ..pinning import shared_pin as _shared_pin

    return _shared_pin(
        ("bpe.trained_vocab", tables.table(spark, sf_dir, "documents")), build
    )


@query(family="cur")
def bpe_encode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, occurrences, n_words): the subword vocabulary AFTER the
    BPE_ROUNDS learned merges are applied — the encode half of the
    tokenizer loop (train learns merges; encode replays them over the
    working vocabulary and re-counts symbols). ``occurrences`` is the
    corpus-wide frequency-weighted count of each subword, ``n_words``
    the number of distinct words containing it; top 100 by weight.
    Reads the shared trained vocabulary (``bpe.trained_vocab``); the
    final symbol explode is one partial-aggregated shuffle over it."""
    vocab = _trained_vocab(spark, sf_dir)
    return (
        vocab.select(
            "freq", F.explode(F.expr(_SYMS_SPARK)).alias("token")
        )
        .groupBy("token")
        .agg(
            F.sum("freq").cast("bigint").alias("occurrences"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .orderBy(F.col("occurrences").desc(), "token")
        .limit(100)
    )


def _duck_round(prev_v: str, r: int) -> str:
    syms = "list_filter(string_split(s, ' '), x -> x <> '')"
    return f"""
w{r} AS (SELECT freq, {syms} AS syms FROM {prev_v}),
p{r} AS (
  SELECT syms[i] || ' ' || syms[i + 1] AS pair, freq
  FROM w{r}, LATERAL (SELECT unnest(generate_series(
      1, greatest(len(syms) - 1, 0))) AS i) t
),
m{r} AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS weight,
         string_split(pair, ' ')[1] AS pa,
         string_split(pair, ' ')[2] AS pb,
         replace(pair, ' ', '') AS mg
  FROM p{r} GROUP BY pair
  ORDER BY weight DESC, pair LIMIT 1
),
v{r} AS (
  SELECT freq,
         substring(list_reduce(['§'] || syms, (acc, x) ->
             CASE WHEN ends_with(acc, ' ' || pa) AND x = pb
                  THEN substring(acc, 1, length(acc) - length(pa) - 1)
                       || ' ' || mg
                  ELSE acc || ' ' || x END), 2) || ' ' AS s
  FROM w{r}, m{r}
)"""


def _build_oracle() -> str:
    rounds = ",".join(
        _duck_round(f"v{r - 1}", r) for r in range(1, BPE_ROUNDS + 1)
    )
    finals = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, pair, mg AS merged, weight FROM m{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return f"""
WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                              x -> x <> '')) AS word
    FROM documents
  ) GROUP BY word
),
v0 AS (SELECT freq, {_SYMS0_DUCK} AS s FROM words),
{rounds}
{finals}
"""


BPE_TRAIN_ORACLE = _build_oracle()


def _build_encode_oracle() -> str:
    rounds = ",".join(
        _duck_round(f"v{r - 1}", r) for r in range(1, BPE_ROUNDS + 1)
    )
    syms = "list_filter(string_split(s, ' '), x -> x <> '')"
    return f"""
WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                              x -> x <> '')) AS word
    FROM documents
  ) GROUP BY word
),
v0 AS (SELECT freq, {_SYMS0_DUCK} AS s FROM words),
{rounds}
SELECT token, CAST(sum(freq) AS BIGINT) AS occurrences,
       CAST(count(*) AS BIGINT) AS n_words
FROM (SELECT freq, unnest({syms}) AS token FROM v{BPE_ROUNDS})
GROUP BY token
ORDER BY occurrences DESC, token LIMIT 100
"""


BPE_ENCODE_ORACLE = _build_encode_oracle()


@query(family="cur")
def bpe_doc_tokens_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_words, n_tokens): each document's length under the
    TRAINED tokenizer — the number a packing/budgeting pipeline
    actually consumes (chunk_packing uses whitespace tokens; this is
    the subword-accurate version). The trained vocabulary keeps its
    word column through the merge replay, reduces to a (word ->
    subword count) map — vocabulary-sized, broadcast — and the corpus
    pays one explode + one broadcast join + one partial-aggregated
    per-doc sum. Unseen-word handling is moot by construction (the
    vocabulary IS the corpus wordcount; a production encoder would
    fall back to character count, the same fold with zero merges).
    Reads the shared trained vocabulary (``bpe.trained_vocab``)."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    vocab = _trained_vocab(spark, sf_dir)
    word_len = vocab.select(
        "word", F.expr(f"size({_SYMS_SPARK})").alias("n_toks")
    )
    toks = docs.select("doc_id", F.explode(tokens_expr()).alias("word"))
    return (
        toks.join(F.broadcast(word_len), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )


def _duck_round_w(prev_v: str, r: int) -> str:
    """Merge-replay round CTEs carrying the word column (the
    doc-tokens oracle needs word -> final symbols)."""
    syms = "list_filter(string_split(s, ' '), x -> x <> '')"
    return f"""
w{r} AS (SELECT word, freq, {syms} AS syms FROM {prev_v}),
p{r} AS (
  SELECT syms[i] || ' ' || syms[i + 1] AS pair, freq
  FROM w{r}, LATERAL (SELECT unnest(generate_series(
      1, greatest(len(syms) - 1, 0))) AS i) t
),
m{r} AS (
  SELECT pair,
         string_split(pair, ' ')[1] AS pa,
         string_split(pair, ' ')[2] AS pb,
         replace(pair, ' ', '') AS mg
  FROM p{r} GROUP BY pair
  ORDER BY CAST(sum(freq) AS BIGINT) DESC, pair LIMIT 1
),
v{r} AS (
  SELECT word, freq,
         substring(list_reduce(['§'] || syms, (acc, x) ->
             CASE WHEN ends_with(acc, ' ' || pa) AND x = pb
                  THEN substring(acc, 1, length(acc) - length(pa) - 1)
                       || ' ' || mg
                  ELSE acc || ' ' || x END), 2) || ' ' AS s
  FROM w{r}, m{r}
)"""


def _build_doc_tokens_oracle() -> str:
    rounds = ",".join(
        _duck_round_w(f"v{r - 1}", r) for r in range(1, BPE_ROUNDS + 1)
    )
    syms = "list_filter(string_split(s, ' '), x -> x <> '')"
    return f"""
WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                              x -> x <> '')) AS word
    FROM documents
  ) GROUP BY word
),
v0 AS (SELECT word, freq, {_SYMS0_DUCK} AS s FROM words),
{rounds},
word_len AS (
  SELECT word, len({syms}) AS n_toks FROM v{BPE_ROUNDS}
),
doc_words AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                            x -> x <> '')) AS word
  FROM documents
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(wl.n_toks) AS BIGINT) AS n_tokens
FROM doc_words d JOIN word_len wl ON wl.word = d.word
GROUP BY d.doc_id
"""


BPE_DOC_TOKENS_ORACLE = _build_doc_tokens_oracle()

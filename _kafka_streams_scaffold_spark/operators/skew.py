"""Skew-mitigation recipe: two-stage salted aggregation.

Generalizes the reference's manual skew fix — compound key + explicit
repartition topic for "highly skewed" purchase streams
(``PurchasesTopology.java:39-47,59-60``) — into the standard Spark
pattern: append a salt, partially aggregate on (key, salt) so a hot
key's rows split across ``n_salts`` partitions, then aggregate the
partials on the bare key. The second shuffle moves at most
``n_salts`` rows per key, regardless of how hot the key is.

The salt never appears in the result, so the oracle is simply the
unsalted aggregate — correctness is salt-invariant by construction.
Only decomposable aggregates (count/sum/min/max and their algebraic
combinations) can be salted this way; AQE's skew handling covers
joins, this covers aggregation fan-in.

Note: for plain count/sum, Spark's own partial aggregation already
absorbs skew (map-side combine). Explicit salting earns its keep when
partial aggregation is defeated — e.g. ``collect_set``/distinct-style
states with heavy per-key payloads — and is registered here on the
purchases aggregate so the pattern is oracle-verified end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..registry import query
from .purchases import PURCHASES_AGG_ORACLE, select_compound_key

N_SALTS = 16


def salted_count_and_total(
    keyed: DataFrame, quantity_col: str = "value", n_salts: int = N_SALTS
) -> DataFrame:
    salted = keyed.withColumn(
        # Deterministic pseudo-salt (not random()): derived from the row's
        # own high-cardinality column so retries/recomputes place each row
        # in the same salt bucket.
        "salt",
        F.pmod(F.xxhash64(F.col("event_id")), F.lit(n_salts)),
    )
    partial = salted.groupBy("key", "salt").agg(
        F.count(F.lit(1)).alias("p_cnt"),
        F.sum(F.col(quantity_col).cast("decimal(18,2)")).alias("p_total"),
    )
    return partial.groupBy("key").agg(
        F.sum("p_cnt").alias("cnt"),
        F.sum("p_total").cast("double").alias("total"),
    )


@query()
def purchases_agg_salted_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = tables.table(spark, sf_dir, "events")
    return salted_count_and_total(select_compound_key(events))


# Salting is internal: the result equals the unsalted aggregate.
PURCHASES_AGG_SALTED_ORACLE = PURCHASES_AGG_ORACLE


# --------------------------------------------------------------------------
# Salted JOIN (replicate-small-side recipe for a skewed join key)
# --------------------------------------------------------------------------


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Equi-join where the BIG side's key distribution is skewed: each
    big row takes a salt in [0, n_salts) and the SMALL side
    replicates n_salts times, so every (key, salt) partition finds
    its match and a hot key's rows spread over n_salts tasks instead
    of one straggler. The salt only steers PARTITIONING — the join
    output is the plain join's exact multiset for ANY salt
    assignment (the replicated side covers every salt), so a cheap
    nondeterministic spread (monotonic id hash) is safe here in a
    way it never is in result-affecting columns.

    This is the manual form of what AQE skew-join does at runtime
    (session.py enables it); the explicit recipe exists for engines/
    joins AQE cannot split (e.g. bucketed inputs, streaming joins)
    and as the documented fallback. Output is EXACTLY the plain
    join's multiset — asserted in tests."""
    salted_big = big.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(F.col(key), F.monotonically_increasing_id()),
            F.lit(n_salts),
        ).cast("int"),
    )
    salts = big.sparkSession.range(n_salts).select(
        F.col("id").cast("int").alias("_salt")
    )
    replicated = small.crossJoin(F.broadcast(salts))
    return salted_big.join(replicated, [key, "_salt"]).drop("_salt")


# --------------------------------------------------------------------------
# Join-key skew diagnostic
# --------------------------------------------------------------------------

SKEW_TOP_K = 10


@query()
def join_key_skew_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_partkey, cnt, total_rows, n_keys, ratio_num, ratio_den): the
    heaviest SKEW_TOP_K join keys of lineitem.l_partkey with each
    key's skew ratio as the exact fraction cnt·n_keys / total_rows
    (ratio vs the mean key load — the number AQE's skew-join threshold
    reasons about). This is the diagnostic run BEFORE choosing a
    mitigation from this module (salted aggregation / replicated
    salted join): keys with ratio >> 1 get salted, the rest keep the
    plain hash join.

    Scale: one combinable key-count rollup, then TakeOrderedAndProject
    for the top-K ((cnt desc, key) total order — per-partition heaps,
    driver merges K rows, no global sort) and a broadcast of the
    one-row corpus totals."""
    li = tables.table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("l_partkey")).limit(SKEW_TOP_K)
    return top.crossJoin(F.broadcast(totals)).select(
        "l_partkey",
        "cnt",
        "total_rows",
        "n_keys",
        (F.col("cnt") * F.col("n_keys")).cast("bigint").alias("ratio_num"),
        F.col("total_rows").alias("ratio_den"),
    )


JOIN_KEY_SKEW_ORACLE = f"""
WITH counts AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_partkey
),
totals AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM counts
),
top AS (
  SELECT l_partkey, cnt FROM counts
  ORDER BY cnt DESC, l_partkey LIMIT {SKEW_TOP_K}
)
SELECT t.l_partkey, t.cnt, x.total_rows, x.n_keys,
       CAST(t.cnt * x.n_keys AS BIGINT) AS ratio_num,
       x.total_rows AS ratio_den
FROM top t CROSS JOIN totals x
"""


# --------------------------------------------------------------------------
# Salting-factor plan (the actuation half of the skew audit)
# --------------------------------------------------------------------------

SALT_TARGET_ROWS = 8_192  # rows a single (key, salt) cell may carry
SALT_PLAN_TOP = 10


@query()
def salt_factor_plan_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, freq, share_x1e6, salt_factor): for the
    SALT_PLAN_TOP heaviest join keys of the events stream, the
    per-key replication factor a salted join needs so no single
    (key, salt) cell exceeds SALT_TARGET_ROWS rows —
    ceil(freq / target), exact integer arithmetic. This is the
    ACTUATION table for ``join_key_skew`` (which measures the skew)
    and ``salted_join`` (which applies a uniform N_SALTS): per-key
    factors replicate the small side only freq/target times for hot
    keys and once for the cold tail, instead of N_SALTS-replicating
    everything — at 100 TB the difference between a salting strategy
    that costs |small| * N_SALTS and one that costs
    |small| + hot_keys * factors.

    share_x1e6 = (freq * 1e6) div total is the integer-exact share
    readout (no float division in the hashed row). One partial-
    aggregatable frequency rollup; the plan itself is TOP_K rows via
    TakeOrdered."""
    ev = tables.table(spark, sf_dir, "events")
    freq = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    total = freq.agg(F.sum("freq").cast("bigint").alias("n_total"))
    return (
        freq.crossJoin(F.broadcast(total))
        .orderBy(F.col("freq").desc(), F.col("user_id"))
        .limit(SALT_PLAN_TOP)
        .select(
            "user_id",
            "freq",
            F.expr("(freq * 1000000) div n_total")
            .cast("bigint")
            .alias("share_x1e6"),
            F.expr(
                f"(freq + {SALT_TARGET_ROWS - 1}) div {SALT_TARGET_ROWS}"
            ).cast("bigint").alias("salt_factor"),
        )
    )


SALT_FACTOR_PLAN_ORACLE = f"""
WITH freq AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS freq
  FROM events GROUP BY 1
),
total AS (SELECT CAST(sum(freq) AS BIGINT) AS n_total FROM freq)
SELECT user_id, freq,
       CAST((freq * 1000000) // n_total AS BIGINT) AS share_x1e6,
       CAST((freq + {SALT_TARGET_ROWS - 1}) // {SALT_TARGET_ROWS}
         AS BIGINT) AS salt_factor
FROM freq, total
ORDER BY freq DESC, user_id
LIMIT {SALT_PLAN_TOP}
"""

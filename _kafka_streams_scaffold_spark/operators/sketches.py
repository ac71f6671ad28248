"""Cardinality / quantile / top-k summaries.

Beyond-reference capability set (SURVEY.md §2.8): the reference's only
aggregate is count/sum (``streams/PurchasesTopology.java:62-66``); a
real analytics engine needs distinct counts, sketched distinct counts
for 100 TB inputs, quantiles, and top-k.

Scale notes:
- ``count(DISTINCT x)`` in Spark is two-phase (partial distinct per
  partition, then exchange on the group key) — no single-point
  bottleneck, but the distinct set itself shuffles.
- ``approx_count_distinct`` is a HyperLogLog++ sketch: fixed ~1.5 KB
  of state per group regardless of input size, partial-merged
  map-side. At 100 TB this is the only viable distinct count per
  high-cardinality group; it is registered rows-only (sketches are
  engine-specific) and unit-tested against the exact count within its
  rsd bound.
- ``percentile`` here is the exact interpolated quantile. Spark
  computes it with a per-group sorted buffer — fine for bounded
  groups (here: 5 event types x <= p99 group sizes); for unbounded
  groups the scale path is ``approx_percentile`` (KLL-style sketch,
  also fixed-size state).
- Top-k is ``TakeOrderedAndProject``: per-partition heap of k, then a
  k-sized merge on the driver — never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..registry import query

TOP_N_EVENTS = 20


# --------------------------------------------------------------------------
# Exact distinct users per (event_type, day)
# --------------------------------------------------------------------------

@query()
def distinct_users_daily_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("event_type"), F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


DISTINCT_USERS_DAILY_ORACLE = """
SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# HLL++ sketched distinct (rows-only: sketch estimates are engine-specific)
# --------------------------------------------------------------------------

APPROX_RSD = 0.02


def approx_distinct_users_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=APPROX_RSD).alias("approx_users")
    )


# Documented driver-visible tolerance: 5x the configured rsd. HLL++ at
# rsd=0.02 stays within 3 sigma in practice; 5x leaves headroom so the
# oracle row is deterministic at every sf while still asserting the
# sketch is sane. The tight per-sigma check lives in
# tests/test_sketches.py.
APPROX_DISTINCT_TOL = 5 * APPROX_RSD


# Sketch estimates are engine-specific, so the registered form
# asserts the error bound IN the result (exact values + universally
# true within-bound booleans the oracle hash-checks); the tight
# per-sigma accuracy assertions live in tests/test_sketches.py
# against the raw-estimate variants.
@query(name="approx_distinct_users")
def approx_distinct_check_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL++ estimate with its error bound asserted IN the result:
    emits the exact distinct count plus a within_bound boolean the
    DuckDB oracle expects to be universally true. This makes the
    sketch's accuracy contract part of the driver's hash-checked
    surface instead of a pytest-only property (the raw estimates are
    engine-specific and cannot be value-compared directly)."""
    ev = tables.table(spark, sf_dir, "events")
    exact = F.countDistinct("user_id")
    approx = F.approx_count_distinct("user_id", rsd=APPROX_RSD)
    return ev.groupBy("event_type").agg(
        exact.alias("n_exact"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= F.lit(APPROX_DISTINCT_TOL) * exact.cast("double")
        ).alias("within_bound"),
    )


APPROX_DISTINCT_CHECK_ORACLE = """
SELECT event_type,
       count(DISTINCT user_id) AS n_exact,
       TRUE AS within_bound
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Exact interpolated quantiles of event value per type
# --------------------------------------------------------------------------

_QS = (0.25, 0.5, 0.75, 0.95)


@query()
def value_percentiles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All quantiles in ONE array-form ``percentile`` aggregate: each
    scalar ``percentile(value, q)`` call carries its own full per-group
    value buffer, so N separate calls buffer the group N times; the
    array form sorts one buffer and reads all quantiles from it."""
    ev = tables.table(spark, sf_dir, "events")
    arr = F.expr(f"percentile(value, array({', '.join(str(q) for q in _QS)}))")
    return (
        ev.groupBy("event_type")
        .agg(arr.alias("ps"))
        .select(
            "event_type",
            *[
                F.col("ps").getItem(i).alias(f"p{int(q * 100)}")
                for i, q in enumerate(_QS)
            ],
        )
    )


VALUE_PERCENTILES_ORACLE = f"""
SELECT event_type,
       {", ".join(f"quantile_cont(value, {q}) AS p{int(q * 100)}" for q in _QS)}
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Global top-k by value (deterministic tiebreak on event_id)
# --------------------------------------------------------------------------

@query()
def top_events_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.table(spark, sf_dir, "events")
    return (
        ev.select("event_id", "user_id", "event_type", "value")
        .orderBy(F.col("value").desc(), F.col("event_id"))
        .limit(TOP_N_EVENTS)
    )


TOP_EVENTS_ORACLE = f"""
SELECT event_id, user_id, event_type, value
FROM events
ORDER BY value DESC, event_id
LIMIT {TOP_N_EVENTS}
"""


# --------------------------------------------------------------------------
# KLL-style sketched quantiles (rows-only; bound-tested vs exact)
# --------------------------------------------------------------------------

APPROX_PCT_ERR = 1000  # accuracy parameter: 1/err relative rank error


def approx_percentiles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched quantiles: fixed-size state per group, partial-merged
    map-side — the 100 TB path where the exact per-group sort buffer
    of ``percentile`` would not fit. Registered rows-only (sketch
    estimates are engine-specific); accuracy is asserted against the
    exact quantiles in tests/test_sketches.py."""
    ev = tables.table(spark, sf_dir, "events")
    arr = F.expr(
        "approx_percentile(value, "
        f"array({', '.join(str(q) for q in _QS)}), {APPROX_PCT_ERR})"
    )
    return (
        ev.groupBy("event_type")
        .agg(arr.alias("aps"))
        .select(
            "event_type",
            *[
                F.col("aps").getItem(i).alias(f"ap{int(q * 100)}")
                for i, q in enumerate(_QS)
            ],
        )
    )


# Driver-visible rank tolerance: the sketch guarantees ~1/1000 rank
# error; the check accepts the approx value anywhere between the exact
# quantiles at q +/- 0.01 (10x headroom), so the boolean is
# deterministically true at every sf.
APPROX_PCT_RANK_SLACK = 0.01


@query(name="approx_percentiles", oracle="APPROX_PCT_CHECK_ORACLE")
def approx_percentiles_check_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched quantiles with the rank-error bound asserted IN the
    result: emits the exact quantiles (hash-comparable) plus one
    ap{q}_ok boolean per quantile stating the sketch landed between
    the exact quantiles at q +/- APPROX_PCT_RANK_SLACK.

    Perf shape: the round-2 form issued 12 scalar ``percentile`` calls
    plus 4 scalar ``approx_percentile`` calls — Spark gives EACH
    aggregate expression its own per-group buffer/sketch, so the group
    was buffered 12x and sketched 4x (measured 0.6s -> ~2s at sf0.1).
    The array forms below build ONE sorted buffer and ONE KLL sketch
    per group and read every quantile from them."""
    ev = tables.table(spark, sf_dir, "events")
    # one exact buffer: lo/exact/hi for every q, deduplicated, sorted
    exact_qs = sorted(
        {
            round(x, 6)
            for q in _QS
            for x in (
                max(q - APPROX_PCT_RANK_SLACK, 0.0),
                q,
                min(q + APPROX_PCT_RANK_SLACK, 1.0),
            )
        }
    )
    idx = {q: i for i, q in enumerate(exact_qs)}
    exact_arr = F.expr(
        f"percentile(value, array({', '.join(str(q) for q in exact_qs)}))"
    )
    ap_arr = F.expr(
        "approx_percentile(value, "
        f"array({', '.join(str(q) for q in _QS)}), {APPROX_PCT_ERR})"
    )
    agged = ev.groupBy("event_type").agg(
        exact_arr.alias("ex"), ap_arr.alias("ap")
    )
    cols = []
    for i, q in enumerate(_QS):
        lo = F.col("ex").getItem(idx[round(max(q - APPROX_PCT_RANK_SLACK, 0.0), 6)])
        hi = F.col("ex").getItem(idx[round(min(q + APPROX_PCT_RANK_SLACK, 1.0), 6)])
        ap = F.col("ap").getItem(i)
        cols.append(F.col("ex").getItem(idx[round(q, 6)]).alias(f"p{int(q * 100)}"))
        cols.append(((ap >= lo) & (ap <= hi)).alias(f"ap{int(q * 100)}_ok"))
    return agged.select("event_type", *cols)


APPROX_PCT_CHECK_ORACLE = f"""
SELECT event_type,
       {", ".join(
           f"quantile_cont(value, {q}) AS p{int(q * 100)}, "
           f"TRUE AS ap{int(q * 100)}_ok"
           for q in _QS
       )}
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Histogram binning (width_bucket)
# --------------------------------------------------------------------------


# width_bucket(value, 0, 500, 20) spelled out; floor(double/25.0) is
# correctly-rounded IEEE on both engines.
_BUCKET_EXPR = (
    "CASE WHEN value < 0.0 THEN 0 WHEN value >= 500.0 THEN 21 "
    "ELSE CAST(floor(value / 25.0) AS BIGINT) + 1 END"
)


@query()
def value_histogram_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram of event values per type: 20 equal bins
    over [0, 500), out-of-range values landing in the SQL-standard
    under/overflow bins (0 and 21). The bucket formula is ONE shared
    SQL string evaluated by both engines (DuckDB has no width_bucket),
    so boundary rounding is identical. One partial-aggregatable
    groupBy — histogram construction at 100 TB is a single shuffle of
    (type, bin) partial counts, nothing else."""
    ev = tables.table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type", F.expr(_BUCKET_EXPR).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


VALUE_HISTOGRAM_ORACLE = f"""
SELECT event_type,
       {_BUCKET_EXPR} AS bucket,
       COUNT(*) AS n
FROM events
GROUP BY event_type, {_BUCKET_EXPR}
"""


# --------------------------------------------------------------------------
# Heavy hitters (freqItems sketch, guarantee asserted in-result)
# --------------------------------------------------------------------------

HH_DENOM = 10  # support = 1/HH_DENOM of all events


@query(name="heavy_hitters")
def heavy_hitters_check_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection with the sketch's guarantee asserted IN
    the result: ``freqItems`` (Spark's one-pass misra-gries-style
    frequent-items sketch — fixed state, partial-merged map-side, the
    100 TB path for "which keys are hot") may emit false positives but
    NEVER misses an item with frequency > support. So the registered
    form lists the exactly-counted event types above support with an
    ``in_sketch`` boolean the oracle expects universally true —
    sketch-specific extras and estimates stay out of the hash-checked
    surface (same contract pattern as approx_distinct_users)."""
    ev = tables.table(spark, sf_dir, "events")
    total = ev.agg(F.count(F.lit(1)).alias("total"))
    exact = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * HH_DENOM > F.col("total"))
    )
    freq = ev.stat.freqItems(["event_type"], support=1.0 / HH_DENOM)
    return (
        exact.crossJoin(F.broadcast(freq))
        .select(
            "event_type",
            "cnt",
            F.array_contains(
                F.col("event_type_freqItems"), F.col("event_type")
            ).alias("in_sketch"),
        )
    )


HEAVY_HITTERS_CHECK_ORACLE = f"""
SELECT event_type, cnt, TRUE AS in_sketch
FROM (
  SELECT event_type, count(*) AS cnt FROM events GROUP BY 1
), (SELECT count(*) AS total FROM events)
WHERE cnt * {HH_DENOM} > total
"""


# --------------------------------------------------------------------------
# Equi-depth histogram (quantile-bucketed, exact)
# --------------------------------------------------------------------------

EQUI_DEPTH_BUCKETS = 10


@query()
def equi_depth_histogram_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_orders, lo, hi, sum_cents): exact equi-DEPTH
    histogram of order totals — ntile(10) over the deterministic
    total order (o_totalprice, o_orderkey), then per-bucket count,
    boundary values, and fixed-point sum. The complement of
    value_histogram's equi-WIDTH bins: depth buckets are what an
    optimizer's column statistics and a feature binner actually want
    (each bucket carries the same row mass, boundaries adapt to the
    distribution).

    Exactness contract: ntile over a TOTAL order (price ties broken
    by key) is bit-deterministic on both engines, and the per-bucket
    sum is floor-to-cents BIGINT. Scale: a global ntile is a global
    sort — the honest cost of an exact equi-depth cut. Spark executes
    it as a range-partitioned sort (sampled boundaries, no single-
    task bottleneck until the window itself, which at 100 TB you'd
    replace with the two-pass form: percentile_approx boundaries +
    one bucketing scan — ``approx_percentiles`` in this module is
    exactly that first pass)."""
    orders = tables.table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_totalprice",
            F.ntile(EQUI_DEPTH_BUCKETS).over(w).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
    )


ED2P_ACCURACY = 10_000  # percentile_approx accuracy: rank error <= n/ED2P_ACCURACY


@query(oracle="EQUI_DEPTH_2P_ORACLE")
def equi_depth_histogram_2p_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row contract check of the TWO-PASS equi-depth histogram —
    the 100 TB form of ``equi_depth_histogram`` (round-3 verdict ask
    #3): percentile_approx boundaries (one partial-aggregated sketch
    pass, rank error <= n/ED2P_ACCURACY per boundary by the KLL/GK
    guarantee) + one bucketing scan (broadcast boundary array, no
    sort, no window, no shuffle beyond the final tiny aggregate).

    Bucket boundaries are engine-specific (DuckDB cannot reproduce
    Spark's sketch), so per-bucket rows cannot be hash-checked; the
    registered form follows the in-result-bound pattern of
    ``approx_distinct_users``: emit the bucket-INVARIANT exact stats
    (row count, global min/max, fixed-point sum — identical whatever
    the boundaries are) plus ``depth_within_bound`` — every bucket's
    depth within n/EQUI_DEPTH_BUCKETS ± 2·n/ED2P_ACCURACY (two
    boundaries, each off by <= n/accuracy ranks) — which the sketch
    guarantee makes universally TRUE, so the oracle states it as a
    literal. Per-bucket accuracy itself is pinned by pytest
    (test_round4_ops); the exact ntile form stays registered as the
    audit twin."""
    orders = tables.table(spark, sf_dir, "orders")
    probs = [i / EQUI_DEPTH_BUCKETS for i in range(1, EQUI_DEPTH_BUCKETS)]
    bounds = orders.agg(
        F.percentile_approx("o_totalprice", probs, ED2P_ACCURACY).alias("bs")
    )
    bucketed = orders.crossJoin(F.broadcast(bounds)).select(
        "o_totalprice",
        F.aggregate(
            "bs",
            F.lit(0),
            lambda acc, b: acc
            + F.when(F.col("o_totalprice") > b, 1).otherwise(0),
        ).alias("bucket"),
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
    )
    totals = per_bucket.agg(
        F.sum("n_orders").cast("bigint").alias("n_orders"),
        F.min("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.sum("sum_cents").cast("bigint").alias("sum_cents"),
        F.max("n_orders").cast("bigint").alias("_max_d"),
        F.min("n_orders").cast("bigint").alias("_min_d"),
    )
    target = F.col("n_orders").cast("double") / EQUI_DEPTH_BUCKETS
    tol = target + 2.0 * F.col("n_orders").cast("double") / ED2P_ACCURACY
    dev = F.greatest(
        F.col("_max_d").cast("double") - target,
        target - F.col("_min_d").cast("double"),
    )
    return totals.select(
        "n_orders",
        "lo",
        "hi",
        "sum_cents",
        (dev <= tol).alias("depth_within_bound"),
    )


EQUI_DEPTH_2P_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       TRUE AS depth_within_bound
FROM orders
"""


EQUI_DEPTH_HISTOGRAM_ORACLE = f"""
WITH ranked AS (
  SELECT o_totalprice,
         ntile({EQUI_DEPTH_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey)
           AS bucket
  FROM orders
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM ranked
GROUP BY bucket
"""


# --------------------------------------------------------------------------
# Count-min sketch (fully deterministic, both engines build the SAME sketch)
# --------------------------------------------------------------------------

CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 512  # counters per row
CMS_TOP = 20  # audited keys


def _cms_cell(engine: str, d: int) -> str:
    """Row-d hash cell for a user_id: md5-derived 60-bit value mod
    width — the same universal-hash family the dedup/sampling tiers
    use, so both engines place every key in the same cell."""
    if engine == "spark":
        return (
            f"cast(conv(substring(md5(concat('cms{d}:',"
            f" cast(user_id as string))), 1, 15), 16, 10) as bigint)"
            f" % {CMS_WIDTH}"
        )
    return (
        f"CAST('0x' || substring(md5('cms{d}:' || CAST(user_id AS VARCHAR)),"
        f" 1, 15) AS BIGINT) % {CMS_WIDTH}"
    )


@query()
def cms_user_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, true_n, cms_estimate, overcount, never_undercounts):
    a 4x512 count-min sketch of per-user event counts, audited
    against the exact counts for the top-CMS_TOP users. The sketch
    itself is two partial-aggregatable passes (cell counts; then the
    min-over-rows estimate via a broadcast join of the D cells each
    audited key hashes to); the CMS guarantee estimate >= true is
    DETERMINISTIC — emitted as a column the oracle states as literal
    TRUE — while the overcount column shows the actual collision
    inflation at this width.

    This is the mergeable sketch a streaming pipeline keeps per
    window: cells are counters, merge is elementwise +, and the same
    md5 placement makes shards combinable — the groupBy here IS that
    merge. Unlike approx_count_distinct (engine-opaque HLL), every
    bit of this sketch is reproducible cross-engine, so the driver
    hash-checks the sketch itself, not just a bound."""
    ev = tables.table(spark, sf_dir, "events")
    cells = None
    for d in range(CMS_DEPTH):
        c = ev.select(
            F.lit(d).alias("row"),
            F.expr(_cms_cell("spark", d)).alias("cell"),
        )
        cells = c if cells is None else cells.unionAll(c)
    sketch = cells.groupBy("row", "cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    true_top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
        .orderBy(F.col("true_n").desc(), "user_id")
        .limit(CMS_TOP)
    )
    probes = None
    for d in range(CMS_DEPTH):
        p = true_top.select(
            "user_id",
            "true_n",
            F.lit(d).alias("row"),
            F.expr(_cms_cell("spark", d)).alias("cell"),
        )
        probes = p if probes is None else probes.unionAll(p)
    est = (
        probes.join(sketch, ["row", "cell"])
        .groupBy("user_id", "true_n")
        .agg(F.min("cnt").cast("bigint").alias("cms_estimate"))
    )
    return est.select(
        "user_id",
        "true_n",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("true_n"))
        .cast("bigint")
        .alias("overcount"),
        (F.col("cms_estimate") >= F.col("true_n")).alias(
            "never_undercounts"
        ),
    )


def _cms_oracle() -> str:
    cell_rows = "\nUNION ALL\n".join(
        f"SELECT {d} AS row, {_cms_cell('duck', d)} AS cell FROM events"
        for d in range(CMS_DEPTH)
    )
    probe_rows = "\nUNION ALL\n".join(
        f"SELECT user_id, true_n, {d} AS row, {_cms_cell('duck', d)} AS cell"
        " FROM true_top"
        for d in range(CMS_DEPTH)
    )
    return f"""
WITH cells AS ({cell_rows}),
sketch AS (
  SELECT row, cell, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY 1, 2
),
true_top AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS true_n
  FROM events GROUP BY user_id
  ORDER BY true_n DESC, user_id
  LIMIT {CMS_TOP}
),
probes AS ({probe_rows})
SELECT p.user_id, p.true_n,
       CAST(min(s.cnt) AS BIGINT) AS cms_estimate,
       CAST(min(s.cnt) - p.true_n AS BIGINT) AS overcount,
       TRUE AS never_undercounts
FROM probes p
JOIN sketch s ON s.row = p.row AND s.cell = p.cell
GROUP BY p.user_id, p.true_n
"""


CMS_USER_COUNTS_ORACLE = _cms_oracle()


# --------------------------------------------------------------------------
# Bloom filter (hand-rolled, deterministic, oracle-checkable)
# --------------------------------------------------------------------------

BLOOM_BITS = 8192
BLOOM_K = 5


def _bloom_bit(engine: str, k: int, key_expr: str) -> str:
    if engine == "spark":
        return (
            f"cast(conv(substring(md5(concat('bf{k}:', {key_expr})), 1, 15),"
            f" 16, 10) as bigint) % {BLOOM_BITS}"
        )
    return (
        f"CAST('0x' || substring(md5('bf{k}:' || {key_expr}), 1, 15)"
        f" AS BIGINT) % {BLOOM_BITS}"
    )


@query()
def bloom_filter_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_members, bits_set, n_probes, n_false_positives,
    no_false_negatives): a deterministic Bloom filter over the set of
    custkeys that placed at least one order, probed with EVERY
    customer — members must all pass (the Bloom guarantee, emitted as
    a column the oracle states as TRUE) and the false-positive count
    over true non-members measures the filter's actual FPR at this
    m/k. This is the semi-join pre-filter shape (ship the bit set,
    drop rows before the shuffle); Spark's own runtime bloom filters
    (session.py enables them) are engine-opaque — this one is
    bit-reproducible cross-engine, so the whole filter state is
    hash-checked via its observable behavior.

    Scale: the bit set is built as distinct (bit) rows — at most
    BLOOM_BITS of them regardless of member count — and broadcast
    into the probe join; probes aggregate partial. Nothing wide
    shuffles."""
    orders = tables.table(spark, sf_dir, "orders")
    customer = tables.table(spark, sf_dir, "customer")
    members = orders.select(
        F.col("o_custkey").cast("string").alias("k")
    ).distinct()
    bits = None
    for k in range(BLOOM_K):
        b = members.select(F.expr(_bloom_bit("spark", k, "k")).alias("bit"))
        bits = b if bits is None else bits.unionAll(b)
    bitset = bits.distinct()
    probes = customer.select(
        F.col("c_custkey").cast("string").alias("k")
    )
    is_member = members.select("k", F.lit(1).alias("is_member"))
    probe_bits = None
    for k in range(BLOOM_K):
        p = probes.select(
            "k",
            F.lit(k).alias("i"),
            F.expr(_bloom_bit("spark", k, "k")).alias("bit"),
        )
        probe_bits = p if probe_bits is None else probe_bits.unionAll(p)
    hits = (
        probe_bits.join(
            F.broadcast(bitset.select("bit", F.lit(1).alias("set"))),
            "bit",
            "left",
        )
        .groupBy("k")
        .agg(
            (F.sum(F.coalesce("set", F.lit(0))) == BLOOM_K).alias("passes")
        )
    )
    audited = hits.join(F.broadcast(is_member), "k", "left")
    return audited.agg(
        F.sum(F.coalesce("is_member", F.lit(0)))
        .cast("bigint")
        .alias("n_members"),
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum(
            F.when(
                F.col("passes") & F.col("is_member").isNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_positives"),
        F.min(
            F.when(F.col("is_member").isNotNull(), F.col("passes"))
        ).alias("no_false_negatives"),
    ).crossJoin(
        F.broadcast(
            bitset.agg(F.count(F.lit(1)).cast("bigint").alias("bits_set"))
        )
    ).select(
        "n_members", "bits_set", "n_probes", "n_false_positives",
        "no_false_negatives",
    )


def _bloom_oracle() -> str:
    member_bits = "\nUNION ALL\n".join(
        f"SELECT {_bloom_bit('duck', k, 'k')} AS bit FROM members"
        for k in range(BLOOM_K)
    )
    probe_bits = "\nUNION ALL\n".join(
        f"SELECT k, {kk} AS i, {_bloom_bit('duck', kk, 'k')} AS bit"
        " FROM probes"
        for kk in range(BLOOM_K)
    )
    return f"""
WITH members AS (
  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
),
bitset AS (
  SELECT DISTINCT bit FROM ({member_bits})
),
probes AS (
  SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer
),
pb AS ({probe_bits}),
hits AS (
  SELECT pb.k,
         (sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END)
          = {BLOOM_K}) AS passes
  FROM pb LEFT JOIN bitset b ON b.bit = pb.bit
  GROUP BY pb.k
),
audited AS (
  SELECT h.k, h.passes, m.k IS NOT NULL AS is_member
  FROM hits h LEFT JOIN members m ON m.k = h.k
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM members) AS n_members,
       (SELECT CAST(count(*) AS BIGINT) FROM bitset) AS bits_set,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(CASE WHEN passes AND NOT is_member THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positives,
       CAST(min(CASE WHEN is_member THEN passes END) AS BOOLEAN)
         AS no_false_negatives
FROM audited
"""


BLOOM_FILTER_AUDIT_ORACLE = _bloom_oracle()


# --------------------------------------------------------------------------
# HyperLogLog, hand-rolled and DETERMINISTIC (the sketch itself is
# cross-engine hash-checked, unlike approx_count_distinct's opaque HLL++)
# --------------------------------------------------------------------------

HLL_P = 8  # 2^8 = 256 registers; std err ~ 1.04/16 = 6.5%
HLL_M = 1 << HLL_P
_HLL_WBITS = 60 - HLL_P  # rank domain after register selection
# alpha_256 literal (Flajolet et al. 2007): 0.7213/(1 + 1.079/m)
HLL_ALPHA = 0.7182725932495458
HLL_TOL = 3 * 1.04 / 16  # 3 sigma of the standard error (large range)
HLL_SMALL_RANGE = 2.5  # raw estimator valid above ~2.5m distincts


def _hll_registers(engine: str) -> tuple[str, str]:
    """(register, rank) expressions over a 60-bit md5 hash ``h``:
    register = low HLL_P bits, rank = leading zeros of the remaining
    52-bit word + 1 (via the exact integer length of its binary
    rendering — both engines' ``bin()`` of the SAME integer agree,
    no log2 in sight)."""
    if engine == "spark":
        reg = f"cast(h % {HLL_M} as int)"
        w = f"(h div {HLL_M})"
        rank = (
            f"cast(case when {w} = 0 then {_HLL_WBITS + 1} "
            f"else {_HLL_WBITS} - length(bin({w})) + 1 end as int)"
        )
    else:
        reg = f"CAST(h % {HLL_M} AS INT)"
        w = f"(h // {HLL_M})"
        rank = (
            f"CAST(CASE WHEN {w} = 0 THEN {_HLL_WBITS + 1} "
            f"ELSE {_HLL_WBITS} - length(bin({w})) + 1 END AS INT)"
        )
    return reg, rank


@query()
def hll_user_sketch_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_exact, hll_estimate, within_bound): a from-
    scratch HyperLogLog over per-type distinct users whose EVERY BIT
    is reproducible cross-engine: md5-derived 60-bit hashes, max-rank
    registers, and the harmonic sum computed EXACTLY as
    sum(2^(wbits+1-rank)) in DECIMAL(38,0) (each term is an exact
    power of two, so no float-accumulation order can perturb it); the
    one double division happens once per group on exact integers.
    The raw Flajolet estimator only — the small-range linear-counting
    branch needs ln, which is banned from hash-checked outputs (libm
    last-ulp divergence), so the result instead carries m_used (the
    occupied-register count LC derives from, an exact integer) and a
    small_range flag (n_exact < 2.5m, exact arithmetic). Accuracy is
    asserted in pytest: the 3-sigma bound directly in the large
    range, and after a Python-side linear-counting correction from
    m_used in the small range.

    Scale: registers are a partial-aggregatable MAX per (type,
    register) — HLL_M rows per group however large the corpus; merge
    across shards is the same max. This is the auditable twin of
    approx_count_distinct (kept for production use: HLL++ has the
    bias corrections this form omits)."""
    ev = tables.table(spark, sf_dir, "events")
    reg, rank = _hll_registers("spark")
    h60 = (
        "cast(conv(substring(md5(concat('hll:', cast(user_id as string))),"
        " 1, 15), 16, 10) as bigint)"
    )
    regs = (
        ev.select("event_type", F.expr(h60).alias("h"))
        .select("event_type", F.expr(reg).alias("r"), F.expr(rank).alias("k"))
        .groupBy("event_type", "r")
        .agg(F.max("k").alias("mk"))
    )
    # exact harmonic sum: 2^-M_j scaled by 2^(wbits+1) -> integer terms
    term = F.expr(f"cast(pow(cast(2 as decimal(38,0)), {_HLL_WBITS + 1} - mk)"
                  f" as decimal(38,0))")
    sums = regs.groupBy("event_type").agg(
        F.sum(term).alias("s"),
        F.count(F.lit(1)).alias("m_used"),
    )
    # registers never hit: contribute 2^0 scaled = full weight 1 each
    # (rank 0 -> 2^-0 = 1 -> scaled 2^(wbits+1))
    pad = (F.lit(HLL_M) - F.col("m_used")).cast("decimal(38,0)") * F.lit(
        2 ** (_HLL_WBITS + 1)
    ).cast("decimal(38,0)")
    est = (
        F.lit(HLL_ALPHA)
        * F.lit(float(HLL_M))
        * F.lit(float(HLL_M))
        * F.lit(float(2 ** (_HLL_WBITS + 1)))
        / (F.col("s") + pad).cast("double")
    )
    exact = ev.groupBy(F.col("event_type").alias("et")).agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    joined = sums.join(
        F.broadcast(exact), sums["event_type"] == exact["et"]
    )
    return joined.select(
        "event_type",
        "n_exact",
        est.alias("hll_estimate"),
        F.col("m_used").cast("bigint").alias("m_used"),
        (
            F.col("n_exact").cast("double")
            < F.lit(HLL_SMALL_RANGE) * F.lit(float(HLL_M))
        ).alias("small_range"),
    )


def _hll_oracle() -> str:
    reg, rank = _hll_registers("duck")
    h60 = (
        "CAST('0x' || substring(md5('hll:' || CAST(user_id AS VARCHAR)),"
        " 1, 15) AS BIGINT)"
    )
    return f"""
WITH hashed AS (
  SELECT event_type, {h60} AS h FROM events
),
regs AS (
  SELECT event_type, {reg} AS r, max({rank}) AS mk
  FROM hashed GROUP BY 1, 2
),
sums AS (
  SELECT event_type,
         sum(CAST(pow(2, {_HLL_WBITS + 1} - mk) AS DECIMAL(38,0)))
           AS s,
         count(*) AS m_used
  FROM regs GROUP BY 1
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
)
SELECT s.event_type, e.n_exact,
       CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({float(HLL_M)!r} AS DOUBLE)
       * CAST({float(HLL_M)!r} AS DOUBLE)
       * CAST({float(2 ** (_HLL_WBITS + 1))!r} AS DOUBLE)
       / CAST(s.s + CAST(({HLL_M} - s.m_used) AS DECIMAL(38,0))
              * CAST({2 ** (_HLL_WBITS + 1)} AS DECIMAL(38,0)) AS DOUBLE)
         AS hll_estimate,
       CAST(s.m_used AS BIGINT) AS m_used,
       CAST(e.n_exact AS DOUBLE) < {HLL_SMALL_RANGE} * {float(HLL_M)!r}
         AS small_range
FROM sums s JOIN exact e ON e.event_type = s.event_type
"""


HLL_USER_SKETCH_ORACLE = _hll_oracle()


# --------------------------------------------------------------------------
# KMV (k-minimum-values) sketch: distinct counts AND set overlap
# --------------------------------------------------------------------------

KMV_K = 64
_KMV_SPACE = float(1 << 60)  # md5-derived hash domain


@query()
def kmv_overlap_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(type_a, type_b, kmv_jaccard, exact_jaccard, n_a, n_b): the
    KMV estimate of user-set Jaccard similarity between every
    event-type pair, next to the exact value. KMV (Bar-Yossef et al.
    2002 / Beyer et al. 2007) is the sketch that gives SET OPERATIONS,
    which HLL/CMS cannot: keep each set's K smallest md5 hash values;
    the K smallest of a union are computable from the parts, and the
    fraction of them present in BOTH parts estimates the Jaccard.
    Every step here is integer hashing + windows over K-sized
    frames, so the estimate is bit-identical cross-engine and
    hash-checked directly; the accuracy contract (|est - exact| <=
    ~3/sqrt(K)) is asserted in pytest.

    Scale: per-set sketches are a partition-parallel rank window over
    DISTINCT (type, hash) rows (the only corpus-sized stage, partial-
    deduped before the shuffle); everything pairwise runs on
    K x |types| rows — broadcast-sized however large the corpus."""
    ev = tables.table(spark, sf_dir, "events")
    h60 = (
        "cast(conv(substring(md5(concat('kmv:', cast(user_id as string))),"
        " 1, 15), 16, 10) as bigint)"
    )
    from pyspark.sql import Window

    hashes = ev.select(
        "event_type", F.expr(h60).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    kept = (
        hashes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= KMV_K)
        .select("event_type", "h")
    )
    types = kept.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    ka = kept.select(F.col("event_type").alias("type_a"), F.col("h").alias("ha"))
    kb = kept.select(F.col("event_type").alias("type_b"), F.col("h").alias("hb"))
    # union of the two sketches per pair (distinct hash values)
    u = (
        pairs.join(ka, "type_a")
        .select("type_a", "type_b", F.col("ha").alias("h"))
        .unionAll(
            pairs.join(kb, "type_b").select(
                "type_a", "type_b", F.col("hb").alias("h")
            )
        )
        .distinct()
    )
    wu = Window.partitionBy("type_a", "type_b").orderBy("h")
    union_k = u.withColumn("r", F.row_number().over(wu)).filter(
        F.col("r") <= KMV_K
    )
    in_a = ka.select("type_a", F.col("ha").alias("h"), F.lit(1).alias("ia"))
    in_b = kb.select("type_b", F.col("hb").alias("h"), F.lit(1).alias("ib"))
    est = (
        union_k.join(F.broadcast(in_a), ["type_a", "h"], "left")
        .join(F.broadcast(in_b), ["type_b", "h"], "left")
        .groupBy("type_a", "type_b")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("ia").isNotNull() & F.col("ib").isNotNull(), 1
                    ).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("kmv_jaccard")
        )
    )
    users = ev.select("event_type", "user_id").distinct()
    ua = users.select(F.col("event_type").alias("type_a"), "user_id")
    ub = users.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        ua.join(ub, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    sizes = users.groupBy(F.col("event_type").alias("t")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    sa = sizes.select(F.col("t").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("t").alias("type_b"), F.col("n").alias("n_b"))
    exact = (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("exact_jaccard"),
        )
    )
    return est.join(exact, ["type_a", "type_b"]).select(
        "type_a", "type_b", "kmv_jaccard", "exact_jaccard", "n_a", "n_b"
    )


def _kmv_oracle() -> str:
    h60 = (
        "CAST('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)),"
        " 1, 15) AS BIGINT)"
    )
    return f"""
WITH hashes AS (
  SELECT DISTINCT event_type, {h60} AS h FROM events
),
kept AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
    FROM hashes
  ) WHERE r <= {KMV_K}
),
types AS (SELECT DISTINCT event_type FROM kept),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM types a JOIN types b ON a.event_type < b.event_type
),
u AS (
  SELECT DISTINCT type_a, type_b, h FROM (
    SELECT p.type_a, p.type_b, k.h
    FROM pairs p JOIN kept k ON k.event_type = p.type_a
    UNION ALL
    SELECT p.type_a, p.type_b, k.h
    FROM pairs p JOIN kept k ON k.event_type = p.type_b
  )
),
union_k AS (
  SELECT type_a, type_b, h FROM (
    SELECT type_a, type_b, h,
           row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS r
    FROM u
  ) WHERE r <= {KMV_K}
),
est AS (
  SELECT uk.type_a, uk.type_b,
         CAST(sum(CASE WHEN ia.h IS NOT NULL AND ib.h IS NOT NULL
                  THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS kmv_jaccard
  FROM union_k uk
  LEFT JOIN kept ia ON ia.event_type = uk.type_a AND ia.h = uk.h
  LEFT JOIN kept ib ON ib.event_type = uk.type_b AND ib.h = uk.h
  GROUP BY 1, 2
),
users AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM users GROUP BY 1),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM users a JOIN users b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT e.type_a, e.type_b, e.kmv_jaccard,
       CAST(i.n_inter AS DOUBLE)
       / CAST(sa.n + sb.n - i.n_inter AS DOUBLE) AS exact_jaccard,
       sa.n AS n_a, sb.n AS n_b
FROM est e
JOIN inter i ON i.type_a = e.type_a AND i.type_b = e.type_b
JOIN sizes sa ON sa.event_type = e.type_a
JOIN sizes sb ON sb.event_type = e.type_b
"""


KMV_OVERLAP_ORACLE = _kmv_oracle()


# --------------------------------------------------------------------------
# Join-size estimation (sketch-sampled key frequencies)
# --------------------------------------------------------------------------

_JS_RATE = 16  # keep keys with h % RATE == 0 (deterministic 1/16 sample)


@query()
def join_size_estimate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_keys_sampled, est_size, exact_size, rel_err): the
    cardinality of orders JOIN lineitem ON orderkey, estimated from a
    deterministic hash-rate sample of the KEY domain — the statistic
    a cost-based optimizer needs before picking a join strategy
    (broadcast vs shuffle, and how many partitions). |A JOIN B| =
    sum_k f_A(k) * f_B(k); sampling keys by md5 residue (h % 16 == 0)
    and scaling by 16 is an unbiased estimator whose error
    concentrates because each key's contribution is bounded by the
    per-key frequency product, and which — unlike rand() sampling —
    is REPRODUCIBLE: the same keys are sampled on every engine, so
    the estimate itself is hash-checked, not just bounded. The exact
    size comes from joining the two frequency ROLLUPS (never the
    fact tables), which is how the estimate would be validated
    offline.

    Scale: two partial-aggregatable frequency rollups (shuffle rows
    = |keys|, not |rows|), a key-width equi-join on the 1/16 sampled
    domain, integer sums. The fact tables are scanned once each and
    never joined row-to-row."""
    orders = tables.table(spark, sf_dir, "orders")
    li = tables.table(spark, sf_dir, "lineitem")
    fo = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("fa")
    )
    fl = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("fb")
    )
    joined = fo.join(fl, "k").select(
        "k", (F.col("fa") * F.col("fb")).alias("fp")
    )
    h = (
        "cast(conv(substring(md5(concat('js:', cast(k as string))), 1, 15),"
        " 16, 10) as bigint)"
    )
    sampled = joined.filter(F.expr(f"({h}) % {_JS_RATE} = 0"))
    agg = sampled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys_sampled"),
        (F.sum("fp") * _JS_RATE).cast("bigint").alias("est_size"),
    )
    exact = joined.agg(F.sum("fp").cast("bigint").alias("exact_size"))
    return agg.crossJoin(F.broadcast(exact)).select(
        "n_keys_sampled",
        "est_size",
        "exact_size",
        # empty join -> exact_size 0: rel_err undefined (ANSI raises)
        F.when(
            F.col("exact_size") > 0,
            (F.col("est_size") - F.col("exact_size")).cast("double")
            / F.col("exact_size").cast("double"),
        ).alias("rel_err"),
    )


JOIN_SIZE_ESTIMATE_ORACLE = f"""
WITH fo AS (
  SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS fa
  FROM orders GROUP BY 1
),
fl AS (
  SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS fb
  FROM lineitem GROUP BY 1
),
joined AS (
  SELECT fo.k, fo.fa * fl.fb AS fp FROM fo JOIN fl ON fl.k = fo.k
),
est AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys_sampled,
         CAST(sum(fp) * {_JS_RATE} AS BIGINT) AS est_size
  FROM joined
  WHERE CAST('0x' || substring(md5('js:' || CAST(k AS VARCHAR)), 1, 15)
             AS BIGINT) % {_JS_RATE} = 0
),
exact AS (SELECT CAST(sum(fp) AS BIGINT) AS exact_size FROM joined)
SELECT n_keys_sampled, est_size, exact_size,
       CASE WHEN exact_size > 0 THEN
         CAST(est_size - exact_size AS DOUBLE)
           / CAST(exact_size AS DOUBLE)
       END AS rel_err
FROM est CROSS JOIN exact
"""


# --------------------------------------------------------------------------
# Rolling-window HLL: trailing-7-day distinct users by register merge
# --------------------------------------------------------------------------

HLL_ROLL_DAYS = 7


@query()
def hll_rolling_distinct_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, n_exact, hll_estimate, m_used, small_range): trailing-
    7-day distinct users per active day, computed by MERGING daily
    HLL sketches — the query that demonstrates why sketches earn
    their keep at 100 TB: the daily (day, register, max-rank) table
    is tiny (HLL_M rows/day) and a trailing window is a register-wise
    MAX over it, so "7-day actives, every day, for a year" costs
    |days| x HLL_M window rows instead of 365 re-scans of the event
    log. The merge = max property is HLL's defining algebra; this
    query exercises it cross-engine bit-exactly (same md5-derived
    hashes, exact DECIMAL harmonic sums, and the raw Flajolet
    estimator as in hll_user_sketch — ln stays banned).

    The n_exact audit column recomputes the trailing distinct
    exactly, fanned out as an equi-join (each (day, user) pair
    explodes to the <= 7 window days it serves) — no range/nested-
    loop join. A production pipeline drops that column; it exists so
    the sketch's error is measured on the hash-checked surface.

    Scale: per-day registers are partial-aggregatable maxes; the
    dense (day x register) spine is |days| x HLL_M rows regardless of
    corpus size; the RANGE window runs per register over day
    indexes."""
    ev = tables.table(spark, sf_dir, "events")
    reg, rank = _hll_registers("spark")
    h60 = (
        "cast(conv(substring(md5(concat('hll:', cast(user_id as string))),"
        " 1, 15), 16, 10) as bigint)"
    )
    day_idx = "datediff(cast(ts as date), date'1970-01-01')"
    dayreg = (
        ev.select(F.expr(day_idx).alias("d"), F.expr(h60).alias("h"))
        .select("d", F.expr(reg).alias("r"), F.expr(rank).alias("k"))
        .groupBy("d", "r")
        .agg(F.max("k").alias("mk"))
    )
    days = ev.select(F.expr(day_idx).alias("d")).distinct()
    regs_dom = spark.range(HLL_M).select(F.col("id").cast("int").alias("r"))
    dense = days.crossJoin(F.broadcast(regs_dom))
    joined = dense.join(dayreg, ["d", "r"], "left")
    w = (
        Window.partitionBy("r")
        .orderBy("d")
        .rangeBetween(-(HLL_ROLL_DAYS - 1), 0)
    )
    rolled = joined.withColumn("mkw", F.max("mk").over(w))
    term = F.expr(
        f"case when mkw is null then cast({2 ** (_HLL_WBITS + 1)} as"
        f" decimal(38,0)) else cast(pow(cast(2 as decimal(38,0)),"
        f" {_HLL_WBITS + 1} - mkw) as decimal(38,0)) end"
    )
    sums = rolled.groupBy("d").agg(
        F.sum(term).alias("s"),
        F.sum(F.when(F.col("mkw").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("m_used"),
    )
    est = (
        F.lit(HLL_ALPHA)
        * F.lit(float(HLL_M))
        * F.lit(float(HLL_M))
        * F.lit(float(2 ** (_HLL_WBITS + 1)))
        / F.col("s").cast("double")
    )
    pairs = ev.select(
        F.expr(day_idx).alias("pd"), "user_id"
    ).distinct()
    fan = pairs.select(
        F.explode(
            F.expr(f"sequence(pd, pd + {HLL_ROLL_DAYS - 1})")
        ).alias("d"),
        "user_id",
    )
    exact = (
        fan.join(days, "d")
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    return (
        sums.join(exact, "d")
        .select(
            F.expr("date_format(date_add(date'1970-01-01', cast(d as int)),"
                   " 'yyyy-MM-dd')").alias("day"),
            "n_exact",
            est.alias("hll_estimate"),
            "m_used",
            (
                F.col("n_exact").cast("double")
                < F.lit(HLL_SMALL_RANGE) * F.lit(float(HLL_M))
            ).alias("small_range"),
        )
    )


def _hll_rolling_oracle() -> str:
    reg, rank = _hll_registers("duck")
    h60 = (
        "CAST('0x' || substring(md5('hll:' || CAST(user_id AS VARCHAR)),"
        " 1, 15) AS BIGINT)"
    )
    return f"""
WITH dayreg AS MATERIALIZED (
  SELECT d, r, max(k) AS mk FROM (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           {reg.replace('h %', '(h) %').replace('h //', '(h) //')} AS r,
           {rank} AS k
    FROM (SELECT ts, {h60} AS h FROM events)
  ) GROUP BY d, r
),
days AS (SELECT DISTINCT d FROM dayreg),
dense AS (
  SELECT days.d, g.r FROM days
  CROSS JOIN (SELECT CAST(range AS INT) AS r FROM range({HLL_M})) g
),
rolled AS (
  SELECT de.d, de.r,
         max(dr.mk) OVER (
           PARTITION BY de.r ORDER BY de.d
           RANGE BETWEEN {HLL_ROLL_DAYS - 1} PRECEDING AND CURRENT ROW
         ) AS mkw
  FROM dense de LEFT JOIN dayreg dr ON dr.d = de.d AND dr.r = de.r
),
sums AS (
  SELECT d,
         sum(CASE WHEN mkw IS NULL
                  THEN CAST({2 ** (_HLL_WBITS + 1)} AS DECIMAL(38,0))
                  ELSE CAST(pow(2, {_HLL_WBITS + 1} - mkw)
                            AS DECIMAL(38,0)) END) AS s,
         CAST(sum(CASE WHEN mkw IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS m_used
  FROM rolled GROUP BY d
),
pairs AS (
  SELECT DISTINCT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS pd,
         user_id
  FROM events
),
fan AS (
  SELECT pd + x.i AS d, user_id
  FROM pairs CROSS JOIN
       (SELECT CAST(range AS INT) AS i FROM range({HLL_ROLL_DAYS})) x
),
exact AS (
  SELECT f.d, CAST(count(DISTINCT f.user_id) AS BIGINT) AS n_exact
  FROM fan f JOIN days ON days.d = f.d
  GROUP BY f.d
)
SELECT strftime(DATE '1970-01-01' + to_days(CAST(s.d AS INT)), '%Y-%m-%d')
         AS day,
       e.n_exact,
       CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({float(HLL_M)!r} AS DOUBLE)
       * CAST({float(HLL_M)!r} AS DOUBLE)
       * CAST({float(2 ** (_HLL_WBITS + 1))!r} AS DOUBLE)
       / CAST(s.s AS DOUBLE) AS hll_estimate,
       s.m_used,
       CAST(e.n_exact AS DOUBLE) < {HLL_SMALL_RANGE} * {float(HLL_M)!r}
         AS small_range
FROM sums s JOIN exact e ON e.d = s.d
"""


HLL_ROLLING_DISTINCT_ORACLE = _hll_rolling_oracle()


# --------------------------------------------------------------------------
# HLL register merge through GROUPING SETS (the sketch-cube pattern)
# --------------------------------------------------------------------------


@query()
def hll_distinct_rollup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, n_exact, hll_estimate, m_used, small_range):
    distinct-user estimates at THREE grains at once — (type, day),
    (type), and the grand total — from ONE register pass. This is the
    operational argument for sketches at 100 TB: a register table is
    a monoid, so every coarser cell is the MAX-merge of finer cells'
    registers, and GROUPING SETS computes all grains in a single
    partial-aggregatable rollup of the corpus (exact distincts would
    re-scan per grain; here the fact table is hashed once). Rolled-up
    dimensions surface as the sentinel 'ALL' (both grouping columns
    are non-null in the data, so the coalesce is unambiguous).

    Determinism contract is hll_user_sketch's, unchanged: md5 60-bit
    hashes, exact-integer harmonic sums in DECIMAL(38,0), raw
    Flajolet estimator only (ln is banned from hashed outputs), with
    m_used + small_range carrying what linear counting would need.
    The estimator's accuracy at every grain is asserted in pytest;
    the MERGE property itself (coarse registers == max of fine) is
    what this operator exists to exercise and is pinned by its own
    test.

    Scale: the finest grain is (type, day, 256 registers) — the
    shuffle payload is registers, never users; coarser grains add
    |types| + 1 more groups of the same 256-row width. Exact
    countDistinct per grouping set is carried for the audit (it is
    the expensive thing the sketch replaces; at production scale you
    drop it and keep the registers)."""
    reg, rank = _hll_registers("spark")
    h60 = (
        "cast(conv(substring(md5(concat('hll:', cast(user_id as string))),"
        " 1, 15), 16, 10) as bigint)"
    )
    ev = tables.table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_hllrollup")
    return spark.sql(f"""
WITH rows_h AS (
  SELECT event_type, cast(to_date(ts) as string) AS day, {h60} AS h
  FROM events_hllrollup
),
keyed AS (
  SELECT event_type, day, {reg} AS r, {rank} AS k FROM rows_h
),
regs AS (
  SELECT coalesce(event_type, 'ALL') AS event_type,
         coalesce(day, 'ALL') AS day,
         r, max(k) AS mk
  FROM keyed
  GROUP BY GROUPING SETS ((event_type, day, r), (event_type, r), (r))
),
sums AS (
  SELECT event_type, day,
         sum(cast(pow(cast(2 as decimal(38,0)), {_HLL_WBITS + 1} - mk)
             as decimal(38,0))) AS s,
         count(*) AS m_used
  FROM regs GROUP BY event_type, day
),
exact AS (
  SELECT coalesce(event_type, 'ALL') AS event_type,
         coalesce(cast(to_date(ts) as string), 'ALL') AS day,
         cast(count(DISTINCT user_id) as bigint) AS n_exact
  FROM events_hllrollup
  GROUP BY GROUPING SETS ((event_type, cast(to_date(ts) as string)),
                          (event_type), ())
)
SELECT s.event_type, s.day, e.n_exact,
       cast({HLL_ALPHA!r} as double) * cast({float(HLL_M)!r} as double)
       * cast({float(HLL_M)!r} as double)
       * cast({float(2 ** (_HLL_WBITS + 1))!r} as double)
       / cast(s.s + cast(({HLL_M} - s.m_used) as decimal(38,0))
              * cast({2 ** (_HLL_WBITS + 1)} as decimal(38,0)) as double)
         AS hll_estimate,
       cast(s.m_used as bigint) AS m_used,
       cast(e.n_exact as double) < {HLL_SMALL_RANGE} * {float(HLL_M)!r}
         AS small_range
FROM sums s JOIN exact e ON e.event_type = s.event_type AND e.day = s.day
""")


def _hll_rollup_oracle() -> str:
    reg, rank = _hll_registers("duck")
    h60 = (
        "CAST('0x' || substring(md5('hll:' || CAST(user_id AS VARCHAR)),"
        " 1, 15) AS BIGINT)"
    )
    return f"""
WITH rows_h AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, {h60} AS h
  FROM events
),
keyed AS (
  SELECT event_type, day, {reg} AS r, {rank} AS k FROM rows_h
),
regs AS (
  SELECT coalesce(event_type, 'ALL') AS event_type,
         coalesce(day, 'ALL') AS day,
         r, max(k) AS mk
  FROM keyed
  GROUP BY GROUPING SETS ((event_type, day, r), (event_type, r), (r))
),
sums AS (
  SELECT event_type, day,
         sum(CAST(pow(2, {_HLL_WBITS + 1} - mk) AS DECIMAL(38,0))) AS s,
         count(*) AS m_used
  FROM regs GROUP BY event_type, day
),
exact AS (
  SELECT coalesce(event_type, 'ALL') AS event_type,
         coalesce(CAST(CAST(ts AS DATE) AS VARCHAR), 'ALL') AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events
  GROUP BY GROUPING SETS ((event_type, CAST(CAST(ts AS DATE) AS VARCHAR)),
                          (event_type), ())
)
SELECT s.event_type, s.day, e.n_exact,
       CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({float(HLL_M)!r} AS DOUBLE)
       * CAST({float(HLL_M)!r} AS DOUBLE)
       * CAST({float(2 ** (_HLL_WBITS + 1))!r} AS DOUBLE)
       / CAST(s.s + CAST(({HLL_M} - s.m_used) AS DECIMAL(38,0))
              * CAST({2 ** (_HLL_WBITS + 1)} AS DECIMAL(38,0)) AS DOUBLE)
         AS hll_estimate,
       CAST(s.m_used AS BIGINT) AS m_used,
       CAST(e.n_exact AS DOUBLE) < {HLL_SMALL_RANGE} * {float(HLL_M)!r}
         AS small_range
FROM sums s JOIN exact e ON e.event_type = s.event_type AND e.day = s.day
"""


HLL_DISTINCT_ROLLUP_ORACLE = _hll_rollup_oracle()


# --------------------------------------------------------------------------
# AMS (Alon-Matias-Szegedy) second-moment sketch with exactness audit
# --------------------------------------------------------------------------

AMS_R = 8
# Baked odd multipliers/offsets for the per-estimator sign hashes
# (classic 2-universal ax+b mod p family, p = 2^31 - 1).
_AMS_P = 2147483647
_AMS_AB = [
    (1103515245, 12345),
    (1664525, 1013904223),
    (22695477, 1),
    (134775813, 1),
    (214013, 2531011),
    (69069, 1234567),
    (1099087573, 2654435761),
    (747796405, 2891336453),
]


def _ams_sign(col: str, r: int) -> str:
    """+1/-1 from the parity of (a*(key mod 2^31) + b) mod (2^31-1) —
    identical BIGINT arithmetic on both engines (keys are non-negative
    ids, so % has no sign divergence). The mod-2^31 pre-reduction
    bounds the product at a*(2^31-1) ~ 2.4e18 < 2^63 for ANY id
    domain — without it, keys >= ~8e9 overflow BIGINT, where Spark
    (non-ANSI) wraps silently while DuckDB raises; value-identical to
    the unreduced form for keys < 2^31 (every current fixture)."""
    a, b = _AMS_AB[r]
    return (
        f"(1 - 2 * ((({a} * ({col} % 2147483648) + {b})"
        f" % {_AMS_P}) % 2))"
    )


@query()
def ams_f2_estimate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(r, est_f2, exact_f2): AMS_R independent AMS estimators of the
    second frequency moment F2 = sum_u c_u^2 of events.user_id (the
    self-join size — what a join planner wants BEFORE shuffling two
    skewed sides together), next to the exact value. Each estimator
    is one streaming counter: Z_r = sum over ROWS of sign_r(user_id),
    and E[Z_r^2] = F2 — the original sketch the whole
    linear-sketching family descends from (Alon, Matias & Szegedy,
    STOC 1996). The per-estimator spread around exact_f2 IS the
    operator's point: it shows the variance a single sketch carries
    and why production mediates means over independent rows.

    Exactness: signs are integer parity, Z_r is an exact BIGINT sum
    (|Z| <= rows, squares far below 2^63 at any realistic shard),
    exact_f2 is the plain groupBy count-square rollup. Scale: the
    sketch side is ONE partial-aggregatable pass computing AMS_R
    counters (no per-key state at all — that is the sketch's virtue
    vs the exact rollup's |keys|-sized shuffle)."""
    ev = tables.table(spark, sf_dir, "events")
    z = ev.agg(
        *[
            F.sum(F.expr(_ams_sign("user_id", r)))
            .cast("bigint")
            .alias(f"z{r}")
            for r in range(AMS_R)
        ],
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("exact_f2"))
    )
    wide = z.crossJoin(F.broadcast(exact)).filter(F.col("n_rows") > 0)
    ests = None
    for r in range(AMS_R):
        row = wide.select(
            F.lit(r).cast("int").alias("r"),
            (F.col(f"z{r}") * F.col(f"z{r}")).cast("bigint").alias("est_f2"),
            "exact_f2",
        )
        ests = row if ests is None else ests.unionAll(row)
    return ests


def _ams_oracle() -> str:
    zs = ", ".join(
        f"CAST(sum({_ams_sign('user_id', r)}) AS BIGINT) AS z{r}"
        for r in range(AMS_R)
    )
    arms = "\nUNION ALL ".join(
        f"SELECT {r} AS r, CAST(z{r} * z{r} AS BIGINT) AS est_f2, exact_f2"
        f" FROM wide"
        for r in range(AMS_R)
    )
    return f"""
WITH z AS (
  SELECT {zs}, CAST(count(*) AS BIGINT) AS n_rows FROM events
),
exact AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2
  FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM events GROUP BY user_id)
),
wide AS MATERIALIZED (
  SELECT * FROM z, exact WHERE z.n_rows > 0
)
{arms}
"""


AMS_F2_ESTIMATE_ORACLE = _ams_oracle()

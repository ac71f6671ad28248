"""Data-quality audit: declarative row-level constraints evaluated as
one pass per table plus one anti-join for referential integrity — the
gate a 100 TB ingest runs before anything downstream trains on the
data.

Shape notes (100 TB posture): every range/null rule on the same table
folds into a SINGLE scan via conditional-sum aggregation (no
rule-per-scan fan-out); the FK orphan check is the only join and keys
on the fact's join column (left_anti, so Spark picks broadcast/SMJ by
the dimension's true size). The result is |rules| rows of counts —
nothing wide ever shuffles.

NULL semantics: a range rule written as SUM(CASE WHEN col <= 0 ...)
silently PASSES null values (the predicate is NULL, not true), so
every range-checked column also carries an explicit isNull rule —
otherwise a column going fully null would sail through the audit
unreported, the exact silent-drop-out failure this gate exists to
catch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..registry import query


def _cnt(cond: F.Column) -> F.Column:
    return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")


@query()
def data_quality_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation counts per named rule, always emitting every rule
    (zero-violation rules appear with 0 — an audit that silently drops
    a rule row is indistinguishable from one that never ran it).
    """
    li = tables.table(spark, sf_dir, "lineitem")
    orders = tables.table(spark, sf_dir, "orders")

    li_rules = li.agg(
        _cnt(F.col("l_orderkey").isNull()).alias("li_null_orderkey"),
        _cnt(F.col("l_quantity") <= 0).alias("li_nonpositive_qty"),
        _cnt(F.col("l_quantity").isNull()).alias("li_null_qty"),
        _cnt(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
        ).alias("li_discount_range"),
        _cnt(F.col("l_discount").isNull()).alias("li_null_discount"),
        _cnt(F.col("l_extendedprice") < 0).alias("li_negative_price"),
        _cnt(F.col("l_extendedprice").isNull()).alias("li_null_price"),
        _cnt(F.col("l_tax") < 0).alias("li_negative_tax"),
        _cnt(F.col("l_tax").isNull()).alias("li_null_tax"),
    )
    o_rules = orders.agg(
        _cnt(F.col("o_custkey").isNull()).alias("o_null_custkey"),
        _cnt(F.col("o_totalprice") <= 0).alias("o_nonpositive_total"),
        _cnt(F.col("o_totalprice").isNull()).alias("o_null_total"),
    )
    orphans = (
        li.select("l_orderkey")
        .join(orders.select("o_orderkey"),
              F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("li_orphan_orderkey"))
    )
    wide = li_rules.crossJoin(o_rules).crossJoin(orphans)
    rules = [
        "li_null_orderkey", "li_nonpositive_qty", "li_null_qty",
        "li_discount_range", "li_null_discount",
        "li_negative_price", "li_null_price",
        "li_negative_tax", "li_null_tax",
        "o_null_custkey", "o_nonpositive_total", "o_null_total",
        "li_orphan_orderkey",
    ]
    stacked = ", ".join(f"'{r}', {r}" for r in rules)
    return wide.selectExpr(
        f"stack({len(rules)}, {stacked}) AS (rule, n_violations)"
    )


def _null_rule_sql(name: str, col: str, tbl: str) -> str:
    return (
        f"SELECT '{name}', "
        f"CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        f"FROM {tbl}"
    )


DATA_QUALITY_AUDIT_ORACLE = f"""
SELECT 'li_null_orderkey' AS rule,
       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations
FROM lineitem
UNION ALL
SELECT 'li_nonpositive_qty',
       CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
{_null_rule_sql('li_null_qty', 'l_quantity', 'lineitem')}
UNION ALL
SELECT 'li_discount_range',
       CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
{_null_rule_sql('li_null_discount', 'l_discount', 'lineitem')}
UNION ALL
SELECT 'li_negative_price',
       CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
{_null_rule_sql('li_null_price', 'l_extendedprice', 'lineitem')}
UNION ALL
SELECT 'li_negative_tax',
       CAST(SUM(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
{_null_rule_sql('li_null_tax', 'l_tax', 'lineitem')}
UNION ALL
SELECT 'o_null_custkey',
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_nonpositive_total',
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
{_null_rule_sql('o_null_total', 'o_totalprice', 'orders')}
UNION ALL
SELECT 'li_orphan_orderkey',
       CAST(COUNT(*) AS BIGINT)
FROM lineitem l
WHERE NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
)
"""


# --------------------------------------------------------------------------
# Distribution drift (chi-square between time halves)
# --------------------------------------------------------------------------

@query()
def distribution_drift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_baseline, n_current, p_baseline, p_current,
    chi2_contrib): data-drift audit of the event-value distribution —
    the corpus splits at its temporal midpoint into baseline/current
    windows, values histogram into the shared width_bucket formula
    (same bins as value_histogram), and each bucket contributes
    ``(p_cur - p_base)^2 / p_base`` to the chi-square drift statistic
    (sum the column for the scalar drift score). Chi-square rather
    than PSI deliberately: PSI's log-ratio would put a transcendental
    in a hash-checked output (libm last-ulp differences — the same
    reason tf-idf here uses linear idf), while the chi-square form is
    rational arithmetic on exact BIGINT counts. Buckets absent from
    the baseline report NULL contribution (the novel-mass signal).

    One scan: the midpoint comes from a one-row min/max aggregate
    broadcast back over the stream; the histogram is one
    partial-aggregated (window, bucket) groupBy; everything after is
    arithmetic on ~bucket-count rows."""
    ev = tables.table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).select(
        F.expr(
            "timestampadd(SECOND, cast(floor(timestampdiff(SECOND, lo, hi)"
            " / 2) as bigint), lo)"
        ).alias("mid")
    )
    from .sketches import _BUCKET_EXPR

    counts = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            (F.col("ts") < F.col("mid")).alias("is_base"),
            F.expr(_BUCKET_EXPR).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.col("is_base").cast("bigint")).alias("n_baseline"),
            F.sum((~F.col("is_base")).cast("bigint")).alias("n_current"),
        )
    )
    totals = counts.agg(
        F.sum("n_baseline").alias("t_base"), F.sum("n_current").alias("t_cur")
    )
    p_base = F.col("n_baseline").cast("double") / F.col("t_base").cast("double")
    p_cur = F.col("n_current").cast("double") / F.col("t_cur").cast("double")
    contrib = F.when(
        F.col("n_baseline") > 0,
        (p_cur - p_base) * (p_cur - p_base) / p_base,
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.col("n_baseline").cast("bigint").alias("n_baseline"),
        F.col("n_current").cast("bigint").alias("n_current"),
        p_base.alias("p_baseline"),
        p_cur.alias("p_current"),
        contrib.alias("chi2_contrib"),
    )


def _drift_oracle() -> str:
    from .sketches import _BUCKET_EXPR

    return f"""
WITH bounds AS (
  SELECT min(ts) + to_seconds(CAST(floor(epoch(max(ts) - min(ts)) / 2)
                              AS BIGINT)) AS mid
  FROM events
),
counts AS (
  SELECT {_BUCKET_EXPR} AS bucket,
         CAST(sum(CASE WHEN ts < mid THEN 1 ELSE 0 END) AS BIGINT)
           AS n_baseline,
         CAST(sum(CASE WHEN ts < mid THEN 0 ELSE 1 END) AS BIGINT)
           AS n_current
  FROM events CROSS JOIN bounds
  GROUP BY 1
),
totals AS (
  SELECT CAST(sum(n_baseline) AS BIGINT) AS t_base,
         CAST(sum(n_current) AS BIGINT) AS t_cur
  FROM counts
)
SELECT bucket, n_baseline, n_current,
       CAST(n_baseline AS DOUBLE) / CAST(t_base AS DOUBLE) AS p_baseline,
       CAST(n_current AS DOUBLE) / CAST(t_cur AS DOUBLE) AS p_current,
       CASE WHEN n_baseline > 0 THEN
         (CAST(n_current AS DOUBLE) / CAST(t_cur AS DOUBLE)
          - CAST(n_baseline AS DOUBLE) / CAST(t_base AS DOUBLE))
         * (CAST(n_current AS DOUBLE) / CAST(t_cur AS DOUBLE)
            - CAST(n_baseline AS DOUBLE) / CAST(t_base AS DOUBLE))
         / (CAST(n_baseline AS DOUBLE) / CAST(t_base AS DOUBLE))
       END AS chi2_contrib
FROM counts CROSS JOIN totals
"""


DISTRIBUTION_DRIFT_ORACLE = _drift_oracle()


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------

import math as _math

# log10(1 + 1/d) inlined as Python-repr literals: both engines consume
# the same 17-sig-digit constants, so no runtime transcendental enters
# the hash-checked output (the module ban on libm in checked results).
_BENFORD_P = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


@query()
def benford_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(digit, n, p_observed, p_expected, chi2_contrib): first-
    significant-digit distribution of order totals against Benford's
    law — the classic fabricated-data / unit-mixup screen a finance
    DQ suite runs. The first digit is extracted ARITHMETICALLY from
    fixed-point cents (leading digit is scale-invariant, so cents
    and dollars agree) via the integer's string form — BIGINT
    rendering is identical on both engines, unlike doubles. Expected
    proportions are compile-time literals; the chi-square contribution
    is rational arithmetic on exact counts. One partial-aggregated
    scan; nine output rows.

    Sub-cent totals (0 < price < 0.01) floor to digit 0, which is out
    of Benford's domain AND out of ``element_at``'s 1-based index —
    the filter is ``>= 0.01`` (identically in the oracle) so both
    engines agree instead of one crashing."""
    orders = tables.table(spark, sf_dir, "orders")
    digit = F.expr(
        "cast(substring(cast(cast(floor(o_totalprice * 100) as bigint)"
        " as string), 1, 1) as int)"
    )
    counts = (
        orders.filter(F.col("o_totalprice") >= 0.01)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").cast("bigint").alias("t"))
    p_obs = F.col("n").cast("double") / F.col("t").cast("double")
    p_exp = F.element_at(
        F.array(*[F.lit(_BENFORD_P[d]) for d in range(1, 10)]),
        F.col("digit"),
    )
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        p_obs.alias("p_observed"),
        p_exp.alias("p_expected"),
        (
            (p_obs - p_exp) * (p_obs - p_exp) / p_exp
        ).alias("chi2_contrib"),
    )


def _benford_oracle() -> str:
    exp_cases = " ".join(
        f"WHEN {d} THEN CAST({_BENFORD_P[d]!r} AS DOUBLE)"
        for d in range(1, 10)
    )
    return f"""
WITH counts AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
              AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM orders
  WHERE o_totalprice >= 0.01
  GROUP BY 1
),
total AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts)
SELECT digit, n,
       CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS p_observed,
       CASE digit {exp_cases} END AS p_expected,
       (CAST(n AS DOUBLE) / CAST(t AS DOUBLE) - CASE digit {exp_cases} END)
       * (CAST(n AS DOUBLE) / CAST(t AS DOUBLE) - CASE digit {exp_cases} END)
       / (CASE digit {exp_cases} END) AS chi2_contrib
FROM counts CROSS JOIN total
"""


BENFORD_AUDIT_ORACLE = _benford_oracle()


# --------------------------------------------------------------------------
# Referential-integrity audit (every FK edge of the schema)
# --------------------------------------------------------------------------

# (name, fact table, fk column, dim table, pk column) — the complete
# FK graph of the TPC-H-ish schema. The audit must enumerate EVERY
# edge: a single unchecked relationship is where orphans hide.
_FK_EDGES = [
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


@query()
def referential_integrity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(relationship, n_rows, n_distinct_fk, n_orphans): orphan audit
    over the WHOLE foreign-key graph — one row per FK edge, always
    emitted (an edge with zero orphans prints 0; a silently missing
    row is indistinguishable from an unchecked edge).

    Shape per edge (round-10, single-pass): the fact side first
    collapses to per-key counts (partial-aggregatable, so the join
    input is |distinct fk|, never |fact|), then ONE left join against
    the dimension's de-duplicated key column carries totals and
    orphan counts through the same aggregation — n_orphans is the
    conditional sum over unmatched keys. The previous shape ran the
    totals and the anti-join as two separate jobs, each re-scanning
    and re-collapsing the fact (the r09 10x probe's 11.7x: lineitem's
    three edges paid six 10x fact scans); one pass halves that.
    Dimension sides are key-only DISTINCT projections (PK duplicates
    must not multiply the left join) — Catalyst broadcasts the small
    ones (region/nation/supplier) and sort-merges the big ones, the
    right call either way. The 7 edges are independent
    single-purpose plans unioned into a 7-row result; at 100 TB each
    runs once over its fact's FK column only (column pruning reaches
    the scan)."""
    out = None
    for name, fact_t, fk, dim_t, pk in _FK_EDGES:
        fact = tables.table(spark, sf_dir, fact_t)
        dim = (
            tables.table(spark, sf_dir, dim_t)
            .select(F.col(pk).alias("_pk"))
            .distinct()
        )
        per_key = fact.groupBy(F.col(fk).alias("_fk")).agg(
            F.count(F.lit(1)).alias("_n")
        )
        row = (
            per_key.join(dim, per_key["_fk"] == dim["_pk"], "left")
            .agg(
                F.sum("_n").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_distinct_fk"),
                F.coalesce(
                    F.sum(F.when(F.col("_pk").isNull(), F.col("_n"))),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_orphans"),
            )
            .select(
                F.lit(name).alias("relationship"),
                "n_rows",
                "n_distinct_fk",
                "n_orphans",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


def _ref_integrity_oracle() -> str:
    selects = []
    for name, fact_t, fk, dim_t, pk in _FK_EDGES:
        selects.append(f"""
SELECT '{name}' AS relationship,
       (SELECT CAST(count(*) AS BIGINT) FROM {fact_t}) AS n_rows,
       (SELECT CAST(count(DISTINCT {fk}) AS BIGINT) FROM {fact_t})
         AS n_distinct_fk,
       (SELECT CAST(count(*) AS BIGINT) FROM {fact_t} f
        WHERE NOT EXISTS (SELECT 1 FROM {dim_t} d WHERE d.{pk} = f.{fk}))
         AS n_orphans""")
    return "\nUNION ALL\n".join(selects)


REFERENTIAL_INTEGRITY_ORACLE = _ref_integrity_oracle()


# --------------------------------------------------------------------------
# k-anonymity audit (quasi-identifier re-identification risk)
# --------------------------------------------------------------------------

KANON_K = 5  # the usual "safe" equivalence-class floor
# Quasi-identifier set: attributes an adversary can plausibly link
# from outside data. Narrow here by design — the audit's shape, not a
# policy statement.
_QI_COLS = ("c_nationkey", "c_mktsegment")


@query()
def k_anonymity_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(class_size_bucket, n_classes, n_rows, at_risk): the
    k-anonymity readout over the customer table's quasi-identifier
    columns — equivalence classes (distinct QI combinations) bucketed
    by their size, with ``at_risk`` flagging buckets below KANON_K
    (rows in those classes are re-identifiable by QI linkage; a
    release gate either generalizes the QIs or suppresses those
    rows). Buckets are exact powers of two (floor(log2(size))), the
    same log2-bucket convention as dup_graph_degrees.

    Scale: one partial-aggregatable groupBy on the QI tuple (classes
    are the shuffle rows — bounded by the QI domain product, not the
    table), then a bucket rollup over |classes| rows. Adding QI
    columns widens the first key, never adds passes."""
    cust = tables.table(spark, sf_dir, "customer")
    classes = cust.groupBy(*_QI_COLS).agg(
        F.count(F.lit(1)).alias("class_size")
    )
    bucket = F.floor(F.log2(F.col("class_size").cast("double"))).cast("int")
    return (
        classes.groupBy(bucket.alias("class_size_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("class_size").cast("bigint").alias("n_rows"),
            F.min("class_size").cast("bigint").alias("min_class_size"),
        )
        .select(
            "class_size_bucket",
            "n_classes",
            "n_rows",
            (F.col("min_class_size") < KANON_K).alias("at_risk"),
        )
    )


K_ANONYMITY_AUDIT_ORACLE = f"""
WITH classes AS (
  SELECT {", ".join(_QI_COLS)}, CAST(count(*) AS BIGINT) AS class_size
  FROM customer
  GROUP BY {", ".join(str(i + 1) for i in range(len(_QI_COLS)))}
)
SELECT CAST(floor(log2(CAST(class_size AS DOUBLE))) AS INT)
         AS class_size_bucket,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       min(class_size) < {KANON_K} AS at_risk
FROM classes
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Freshness audit (event-time lag per stream)
# --------------------------------------------------------------------------


@query()
def freshness_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, last_seen, lag_minutes, n_last_day): per event
    type, how stale its newest event is relative to the NEWEST event
    anywhere (the deterministic reference point — wall-clock now
    would make the result unreproducible), plus the type's volume in
    the trailing day. A type whose lag jumps is an upstream producer
    outage; the SLA gate thresholds lag_minutes. One pass: per-type
    max/conditional-count partial aggregates, global max broadcast
    back — scan-bound at any scale."""
    ev = tables.table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_seen")
    )
    global_max = per_type.agg(F.max("last_seen").alias("gmax"))
    per_type = per_type.crossJoin(F.broadcast(global_max))
    counts = (
        ev.crossJoin(F.broadcast(global_max))
        .filter(
            F.col("ts") >= F.expr("timestampadd(HOUR, -24, gmax)")
        )
        .groupBy(F.col("event_type").alias("et"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_last_day"))
    )
    return (
        per_type.join(counts, per_type["event_type"] == counts["et"], "left")
        .select(
            "event_type",
            "last_seen",
            # whole-minute lag via integer microsecond division —
            # timestampdiff/date_diff disagree cross-engine on
            # boundary-crossing vs truncation semantics
            F.expr(
                "(unix_micros(gmax) - unix_micros(last_seen))"
                " div 60000000"
            )
            .cast("bigint")
            .alias("lag_minutes"),
            F.coalesce("n_last_day", F.lit(0))
            .cast("bigint")
            .alias("n_last_day"),
        )
    )


FRESHNESS_AUDIT_ORACLE = """
WITH per_type AS (
  SELECT event_type, max(ts) AS last_seen FROM events GROUP BY 1
),
g AS (SELECT max(last_seen) AS gmax FROM per_type),
counts AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_last_day
  FROM events, g
  WHERE ts >= gmax - INTERVAL 24 HOUR
  GROUP BY 1
)
SELECT p.event_type, p.last_seen,
       CAST((epoch_us(g.gmax) - epoch_us(p.last_seen)) // 60000000
            AS BIGINT) AS lag_minutes,
       COALESCE(c.n_last_day, 0) AS n_last_day
FROM per_type p
CROSS JOIN g
LEFT JOIN counts c ON c.event_type = p.event_type
"""


# --------------------------------------------------------------------------
# Enum-domain contract audit
# --------------------------------------------------------------------------

# (table, column, allowed values) — the data contract's categorical
# domains. A value outside its enum is an upstream schema drift.
_ENUM_DOMAINS = [
    ("orders", "o_orderstatus", ("O", "F", "P")),
    ("lineitem", "l_returnflag", ("A", "N", "R")),
    ("lineitem", "l_linestatus", ("O", "F")),
    ("events", "event_type", ("click", "view", "purchase", "signup", "error")),
    ("documents", "lang", ("en", "es", "de", "fr", "zh")),
]


@query()
def enum_domain_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(contract, n_rows, n_violations, example_value): every
    categorical column checked against its declared enum — one
    conditional-sum pass per table plus min() of the offending value
    as a deterministic example (min, not first — arbitrary-pick would
    flicker across partitionings). Always emits every contract row,
    zero-violation contracts included."""
    out = None
    for tbl, col, allowed in _ENUM_DOMAINS:
        df = tables.table(spark, sf_dir, tbl)
        viol = ~F.col(col).isin(*allowed) | F.col(col).isNull()
        row = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(viol, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
            F.min(F.when(viol, F.col(col))).alias("example_value"),
        ).select(
            F.lit(f"{tbl}.{col}").alias("contract"),
            "n_rows",
            "n_violations",
            "example_value",
        )
        out = row if out is None else out.unionAll(row)
    return out


def _enum_oracle() -> str:
    selects = []
    for tbl, col, allowed in _ENUM_DOMAINS:
        vals = ", ".join(f"'{v}'" for v in allowed)
        viol = f"({col} NOT IN ({vals}) OR {col} IS NULL)"
        selects.append(f"""
SELECT '{tbl}.{col}' AS contract,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {viol} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       min(CASE WHEN {viol} THEN {col} END) AS example_value
FROM {tbl}""")
    return "\nUNION ALL\n".join(selects)


ENUM_DOMAIN_AUDIT_ORACLE = _enum_oracle()


# --------------------------------------------------------------------------
# Sequence integrity: gaps/duplicates in the event id space
# --------------------------------------------------------------------------

@query()
def sequence_gap_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit of the event_id sequence: (n_rows, min_id,
    max_id, n_missing, n_dup). A dense producer sequence with
    n_missing > 0 means dropped records upstream (the batch analog of
    a consumer detecting offset gaps — reference offset audit tier,
    services/AuditService.java path); n_dup > 0 means at-least-once
    re-delivery leaked past dedup. All five values come from one
    combinable scan (count, min, max, count distinct); the whole
    audit is arithmetic on a single row.

    Scale: count(distinct) is the only shuffle and partially
    aggregates; at 100 TB swap in approx_count_distinct for a first
    pass and keep this exact form for the on-demand audit (the
    repo-wide sketch-then-exact discipline)."""
    ev = tables.table(spark, sf_dir, "events")
    agg = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("event_id").cast("bigint").alias("min_id"),
        F.max("event_id").cast("bigint").alias("max_id"),
        F.countDistinct("event_id").cast("bigint").alias("n_distinct"),
    )
    return agg.select(
        "n_rows",
        "min_id",
        "max_id",
        (F.col("max_id") - F.col("min_id") + 1 - F.col("n_distinct"))
        .cast("bigint")
        .alias("n_missing"),
        (F.col("n_rows") - F.col("n_distinct")).cast("bigint").alias("n_dup"),
    )


SEQUENCE_GAP_AUDIT_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(event_id) AS BIGINT) AS min_id,
       CAST(max(event_id) AS BIGINT) AS max_id,
       CAST(max(event_id) - min(event_id) + 1
            - count(DISTINCT event_id) AS BIGINT) AS n_missing,
       CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS n_dup
FROM events
"""


# --------------------------------------------------------------------------
# Out-of-order depth: the watermark-tuning audit
# --------------------------------------------------------------------------

@query()
def watermark_lag_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_events, n_late, max_late_s, avg_late_s): how far
    event timestamps run BEHIND the running maximum in arrival order
    (event_id as the arrival proxy) — exactly the distribution a
    streaming deployment needs before choosing
    ``withWatermark(delay)``: max_late_s is the delay that loses
    nothing, avg_late_s says how heavy the tail is. Lateness is exact
    integer seconds via the unix_micros/div contract (both engines
    truncate identically; timestamp-diff functions do not).

    Scale: one window per event_type (running max, arrival-ordered) —
    embarrassingly parallel across types; the rollup is combinable.
    The same audit re-pointed at (partition, offset) order runs on any
    Kafka-shaped table (sources/filetopic.py records)."""
    ev = tables.table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    run_max = F.max("ts").over(
        W.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    per = ev.select(
        "event_type", run_max.alias("run_max"), "ts"
    ).select(
        "event_type",
        F.expr("(unix_micros(run_max) - unix_micros(ts)) div 1000000")
        .cast("bigint")
        .alias("late_s"),
    )
    return per.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum((F.col("late_s") > 0).cast("bigint")).alias("n_late"),
        F.max("late_s").cast("bigint").alias("max_late_s"),
        F.when(
            F.sum((F.col("late_s") > 0).cast("bigint")) > 0,
            F.sum(F.when(F.col("late_s") > 0, F.col("late_s")).otherwise(0))
            .cast("double")
            / F.sum((F.col("late_s") > 0).cast("bigint")).cast("double"),
        ).alias("avg_late_s"),
    )


WATERMARK_LAG_AUDIT_ORACLE = """
WITH late AS (
  SELECT event_type,
         (epoch_us(max(ts) OVER (
            PARTITION BY event_type ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          - epoch_us(ts)) // 1000000 AS late_s
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       CAST(max(late_s) AS BIGINT) AS max_late_s,
       CASE WHEN sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) > 0 THEN
         CAST(sum(CASE WHEN late_s > 0 THEN late_s ELSE 0 END) AS DOUBLE)
         / CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS DOUBLE)
       END AS avg_late_s
FROM late GROUP BY event_type
"""


# --------------------------------------------------------------------------
# l-diversity audit (sensitive-attribute diversity within QI classes)
# --------------------------------------------------------------------------

LDIV_L = 3  # minimum sensitive-value diversity per class
_LDIV_SENSITIVE = "cast(floor(c_acctbal / 2000.0) as bigint)"
_LDIV_SENSITIVE_DUCK = "CAST(floor(c_acctbal / 2000.0) AS BIGINT)"


@query()
def l_diversity_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l, n_classes, n_rows, at_risk): the l-diversity companion to
    k_anonymity_audit — k-anonymity alone doesn't stop attribute
    disclosure (a class of 50 rows that all share one salary bucket
    reveals the salary of anyone linked into it), so each
    quasi-identifier class is scored by the number of DISTINCT
    sensitive values it contains (distinct-l; Machanavajjhala et al.
    '07), here the account-balance bucket. Classes roll up by their
    l; ``at_risk`` marks l < LDIV_L, the rows a release gate must
    generalize or suppress even though they may be k-anonymous.

    Scale: one partial-aggregatable groupBy on (QI tuple, sensitive
    bucket) — shuffle rows bounded by the QI x bucket domain — then
    two rollups over |classes| rows. Same shape as k-anonymity with
    one extra key column."""
    cust = tables.table(spark, sf_dir, "customer")
    per_value = cust.groupBy(
        *_QI_COLS, F.expr(_LDIV_SENSITIVE).alias("sens")
    ).agg(F.count(F.lit(1)).alias("n"))
    classes = per_value.groupBy(*_QI_COLS).agg(
        F.count(F.lit(1)).alias("l"), F.sum("n").alias("class_size")
    )
    return (
        classes.groupBy(F.col("l").cast("bigint").alias("l"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("class_size").cast("bigint").alias("n_rows"),
        )
        .select("l", "n_classes", "n_rows", (F.col("l") < LDIV_L).alias("at_risk"))
    )


L_DIVERSITY_AUDIT_ORACLE = f"""
WITH per_value AS (
  SELECT {", ".join(_QI_COLS)}, {_LDIV_SENSITIVE_DUCK} AS sens,
         count(*) AS n
  FROM customer
  GROUP BY 1, 2, 3
),
classes AS (
  SELECT {", ".join(_QI_COLS)}, CAST(count(*) AS BIGINT) AS l,
         sum(n) AS class_size
  FROM per_value
  GROUP BY 1, 2
)
SELECT l,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       l < {LDIV_L} AS at_risk
FROM classes
GROUP BY 1
"""


# --------------------------------------------------------------------------
# t-closeness audit (EMD of each class's sensitive distribution)
# --------------------------------------------------------------------------

TCLOSE_T_NUM = 1  # threshold t = 1/5
TCLOSE_T_DEN = 5


@query()
def t_closeness_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_nationkey, c_mktsegment, n_rows, t_num, t_den, t_closeness,
    at_risk): the t-closeness readout (Li, Li & Venkatasubramanian
    '07) completing the k-anonymity / l-diversity privacy triad —
    for each quasi-identifier class, the Earth Mover's Distance
    between the class's sensitive-attribute distribution and the
    global one. l-diversity counts distinct values; t-closeness
    catches classes whose values are diverse but SKEWED (a class
    that's 95% top-bracket discloses wealth even with l=4). For the
    ORDERED balance buckets, EMD is the mean absolute cumulative
    difference, exact as integers after cross-multiplying: d_i =
    sum_{j<=i} (n_cj * n - n_j * n_c) in units of 1/(n_c * n), so
    t = sum|d_i| / ((m-1) * n_c * n) and the threshold test
    5 * t_num > t_den is pure integer arithmetic.

    Scale: two partial-aggregatable rollups (global and per-class
    bucket counts), a classes x buckets domain completion (bounded
    by the QI-domain product times the bucket count — dimension-
    sized), and a per-class cumsum window over <= m rows. Nothing
    corpus-sized shuffles twice."""
    from pyspark.sql import Window as W

    cust = tables.table(spark, sf_dir, "customer")
    sens = cust.select(
        *_QI_COLS, F.expr(_LDIV_SENSITIVE).alias("b")
    )
    glob = sens.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("n_j"))
    tot = sens.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cls_bucket = sens.groupBy(*_QI_COLS, "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cj")
    )
    cls = sens.groupBy(*_QI_COLS).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c")
    )
    m_frame = glob.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    # complete the classes x buckets grid so missing buckets carry 0
    grid = cls.crossJoin(F.broadcast(glob)).join(
        cls_bucket, [*_QI_COLS, "b"], "left"
    )
    w = (
        W.partitionBy(*_QI_COLS)
        .orderBy("b")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    stepped = grid.crossJoin(F.broadcast(tot)).select(
        *_QI_COLS,
        "n_c",
        "n",
        F.sum(
            F.coalesce("n_cj", F.lit(0)) * F.col("n")
            - F.col("n_j") * F.col("n_c")
        )
        .over(w)
        .alias("d_i"),
    )
    per_class = stepped.groupBy(*_QI_COLS).agg(
        F.max("n_c").alias("n_rows"),
        F.max("n").alias("n"),
        F.sum(F.abs(F.col("d_i"))).cast("bigint").alias("abs_sum"),
    )
    return per_class.crossJoin(F.broadcast(m_frame)).select(
        *_QI_COLS,
        "n_rows",
        F.col("abs_sum").alias("t_num"),
        ((F.col("m") - 1) * F.col("n_rows") * F.col("n"))
        .cast("bigint")
        .alias("t_den"),
        # m == 1 (one global bucket): every class distribution equals
        # the global one, EMD is 0 by definition — and t_den is 0, so
        # the division must be guarded (ANSI mode raises).
        F.when(
            F.col("m") > 1,
            F.col("abs_sum").cast("double")
            / ((F.col("m") - 1) * F.col("n_rows") * F.col("n")).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("t_closeness"),
        (
            TCLOSE_T_DEN * F.col("abs_sum")
            > TCLOSE_T_NUM
            * (F.col("m") - 1)
            * F.col("n_rows")
            * F.col("n")
        ).alias("at_risk"),
    )


T_CLOSENESS_AUDIT_ORACLE = f"""
WITH sens AS (
  SELECT {", ".join(_QI_COLS)}, {_LDIV_SENSITIVE_DUCK} AS b
  FROM customer
),
gdist AS (SELECT b, CAST(count(*) AS BIGINT) AS n_j FROM sens GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sens),
cls_bucket AS (
  SELECT {", ".join(_QI_COLS)}, b, CAST(count(*) AS BIGINT) AS n_cj
  FROM sens GROUP BY 1, 2, 3
),
cls AS (
  SELECT {", ".join(_QI_COLS)}, CAST(count(*) AS BIGINT) AS n_c
  FROM sens GROUP BY 1, 2
),
m_frame AS (SELECT CAST(count(*) AS BIGINT) AS m FROM gdist),
grid AS (
  SELECT cls.c_nationkey, cls.c_mktsegment, cls.n_c, g.b, g.n_j,
         coalesce(cb.n_cj, 0) AS n_cj
  FROM cls CROSS JOIN gdist g
  LEFT JOIN cls_bucket cb
    ON cb.c_nationkey = cls.c_nationkey
   AND cb.c_mktsegment = cls.c_mktsegment
   AND cb.b = g.b
),
stepped AS (
  SELECT c_nationkey, c_mktsegment, n_c, n,
         sum(n_cj * n - n_j * n_c) OVER (
           PARTITION BY c_nationkey, c_mktsegment ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS d_i
  FROM grid CROSS JOIN tot
),
per_class AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(max(n_c) AS BIGINT) AS n_rows,
         CAST(max(n) AS BIGINT) AS n,
         CAST(sum(abs(d_i)) AS BIGINT) AS abs_sum
  FROM stepped GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, n_rows,
       abs_sum AS t_num,
       CAST((m - 1) * n_rows * n AS BIGINT) AS t_den,
       CASE WHEN m > 1 THEN CAST(abs_sum AS DOUBLE)
         / CAST((m - 1) * n_rows * n AS DOUBLE) ELSE 0.0 END
         AS t_closeness,
       {TCLOSE_T_DEN} * abs_sum > {TCLOSE_T_NUM} * (m - 1) * n_rows * n
         AS at_risk
FROM per_class CROSS JOIN m_frame
"""


# --------------------------------------------------------------------------
# Differentially-private release: seeded Laplace counts (the 4th privacy op)
# --------------------------------------------------------------------------

# epsilon = 1 with L1 sensitivity 1 (a count query) -> Laplace scale
# b = 1. The noise draw is DERIVED, not sampled: the uniform comes
# from md5 of a versioned seed + the group key, so the "random"
# release is a pure function of the data — reproducible across runs,
# engines, and partitionings, which is what makes a DP release
# auditable (and lets the oracle hash-check it). p = 2h+1 over the
# first 32 md5 bits gives u = p/2^33 in (0,1) strictly, and both
# |u - 1/2| and 1 - 2|u - 1/2| are DYADIC rationals — bit-exact in
# both engines — so the only inexact step is one ln(), which ships
# through the module's floor(1e6 x) fixed-point contract.
DP_EPS = 1  # integer so the SQL literal is exact in both engines
_DP_SEED = "dp-v1|"

# 2^32 and the exact-dyadic inverse-CDF pieces
_DP_H_SPARK = (
    "cast(conv(substring(md5(concat('" + _DP_SEED + "', {key})), 1, 8),"
    " 16, 10) as bigint)"
)
# DuckDB has no base-conv builtin: fold the 8 hex digits positionally
# (each digit is strpos-1 in the hex alphabet; shifts are exact).
_DP_H_DUCK = (
    "CAST(list_sum([(strpos('0123456789abcdef',"
    " substring(md5('" + _DP_SEED + "' || {key}), i, 1)) - 1)"
    " * (CAST(1 AS BIGINT) << (4 * (8 - i)))"
    " for i in generate_series(1, 8)]) AS BIGINT)"
)


@query()
def dp_laplace_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, true_n, noise_fp, noisy_n): per-(type, day)
    event counts released through the Laplace mechanism (eps = 1,
    sensitivity 1) with a seeded, hash-derived noise draw — the
    fourth privacy primitive next to k-anonymity / l-diversity /
    t-closeness: those audit a quasi-identifier release, this one
    PRODUCES a noisy release. The calibration-audit shape (true_n
    alongside noisy_n) is deliberate: it is the view the privacy
    engineer uses to validate the mechanism's error distribution
    before the true column is dropped from the shipped artifact.

    Determinism: u = (2h+1)/2^33 from md5(seed|key) is strictly
    inside (0,1); the inverse CDF -b*sign(u-1/2)*ln(1-2|u-1/2|)
    evaluates ln on an exactly-representable dyadic argument, and the
    result is fixed-pointed (floor(1e6 x) -> BIGINT) before it
    touches the count, so noisy_n is one correctly-rounded division
    of exact integers. Scale: one partial-aggregatable rollup, one
    per-row expression chain — group-count cost, nothing more."""
    events = tables.table(spark, sf_dir, "events")
    counts = (
        events.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
    )
    key = "concat(event_type, '|', day)"
    h = _DP_H_SPARK.format(key=key)
    noise_fp = (
        f"cast(floor(1000000.0d * (-(case when 2*({h}) + 1 > 4294967296L"
        f" then 1 else -1 end) * ln(cast(4294967296L - abs(2*({h}) + 1"
        f" - 4294967296L) as double) / 4294967296.0d)) / {DP_EPS}.0d)"
        f" as bigint)"
    )
    return counts.select(
        "event_type",
        "day",
        "true_n",
        F.expr(noise_fp).alias("noise_fp"),
        F.expr(
            f"cast(true_n * 1000000L + ({noise_fp}) as double) / 1000000.0d"
        ).alias("noisy_n"),
    )


def _dp_oracle() -> str:
    key = "event_type || '|' || day"
    h = _DP_H_DUCK.format(key=key)
    noise_fp = (
        f"CAST(floor(1000000.0 * (-(CASE WHEN 2*({h}) + 1 > 4294967296"
        f" THEN 1 ELSE -1 END) * ln(CAST(4294967296 - abs(2*({h}) + 1"
        f" - 4294967296) AS DOUBLE) / 4294967296.0)) / {DP_EPS}.0)"
        f" AS BIGINT)"
    )
    return f"""
WITH counts AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS true_n
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, true_n,
       {noise_fp} AS noise_fp,
       CAST(true_n * 1000000 + ({noise_fp}) AS DOUBLE) / 1000000.0
         AS noisy_n
FROM counts
"""


DP_LAPLACE_COUNTS_ORACLE = _dp_oracle()


DP_TOPK_K = 3  # released list length


@query()
def dp_topk_release_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, true_n, noise_fp, noisy_n): the DP_TOPK_K most
    frequent event types released via REPORT-NOISY-MAX — per-type
    totals perturbed with the SAME seeded Laplace recipe as
    dp_laplace_counts, then the top K by NOISY count (ties broken on
    type name). The selection itself is the private object: which
    types appear, and in what noisy magnitude, never the exact
    ordering of true counts (a type can buy its way in by noise —
    that is the mechanism working, not a bug). Production accounting
    note: iterated/peeled top-k spends eps per round (sequential
    composition); this one-shot release spends DP_EPS once on the
    count vector since each type's noise draw is independent and the
    max is post-processing.

    Determinism: the noise draw is the dp_laplace_counts chain —
    dyadic u from md5, single ln on an exactly-representable
    argument, fixed-pointed BEFORE it touches the count — so the
    noisy ranking is integer comparison on both engines. Scale: one
    combinable rollup to |types| rows + TakeOrderedAndProject; the
    events table is scanned once."""
    events = tables.table(spark, sf_dir, "events")
    counts = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    h = _DP_H_SPARK.format(key="concat('topk|', event_type)")
    noise_fp = (
        f"cast(floor(1000000.0d * (-(case when 2*({h}) + 1 > 4294967296L"
        f" then 1 else -1 end) * ln(cast(4294967296L - abs(2*({h}) + 1"
        f" - 4294967296L) as double) / 4294967296.0d)) / {DP_EPS}.0d)"
        f" as bigint)"
    )
    return (
        counts.select(
            "event_type",
            "true_n",
            F.expr(noise_fp).alias("noise_fp"),
            F.expr(
                f"cast(true_n * 1000000L + ({noise_fp}) as double)"
                " / 1000000.0d"
            ).alias("noisy_n"),
        )
        .orderBy(
            F.desc(F.expr(f"true_n * 1000000L + ({noise_fp})")),
            F.asc("event_type"),
        )
        .limit(DP_TOPK_K)
    )


def _dp_topk_oracle() -> str:
    h = _DP_H_DUCK.format(key="'topk|' || event_type")
    noise_fp = (
        f"CAST(floor(1000000.0 * (-(CASE WHEN 2*({h}) + 1 > 4294967296"
        f" THEN 1 ELSE -1 END) * ln(CAST(4294967296 - abs(2*({h}) + 1"
        f" - 4294967296) AS DOUBLE) / 4294967296.0)) / {DP_EPS}.0)"
        f" AS BIGINT)"
    )
    return f"""
WITH counts AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
  FROM events GROUP BY 1
)
SELECT event_type, true_n,
       {noise_fp} AS noise_fp,
       CAST(true_n * 1000000 + ({noise_fp}) AS DOUBLE) / 1000000.0
         AS noisy_n
FROM counts
ORDER BY true_n * 1000000 + ({noise_fp}) DESC, event_type
LIMIT {DP_TOPK_K}
"""


DP_TOPK_RELEASE_ORACLE = _dp_topk_oracle()


# --------------------------------------------------------------------------
# Functional-dependency audit (profiling-grade FD discovery)
# --------------------------------------------------------------------------

# Candidate lhs -> rhs dependencies over the orders x customer join:
# two that must HOLD (the join key determines the joined attribute;
# a key determines everything) and two that must FAIL (segments span
# nations; priorities span statuses) — the audit proves the mechanism
# in both directions.
_FD_CANDIDATES = (
    ("o_custkey", "c_mktsegment"),
    ("o_orderkey", "o_orderpriority"),
    ("c_mktsegment", "c_nationkey"),
    ("o_orderpriority", "o_orderstatus"),
)


@query()
def fd_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lhs, rhs, n_lhs_values, n_violating, holds): TANE-style
    functional-dependency check for each candidate lhs -> rhs over
    orders joined to customer — the schema-discovery profiling step
    that tells a pipeline which columns are safe normalization /
    partitioning keys. A dependency holds iff no lhs value maps to
    more than one distinct rhs value; n_violating counts the lhs
    values that break it (the repair worklist, not just a boolean).

    Scale: each candidate is ONE (lhs, rhs) distinct-pair rollup
    followed by a lhs-keyed count — both partial-aggregatable,
    payload bounded by the attribute domain, never the fact table.
    All candidates share the single join-projection scan; output is
    |candidates| rows."""
    orders = tables.table(spark, sf_dir, "orders")
    cust = tables.table(spark, sf_dir, "customer")
    base = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        "o_orderstatus",
        "c_mktsegment",
        "c_nationkey",
    )
    parts = []
    for lhs, rhs in _FD_CANDIDATES:
        pairs = base.select(
            F.col(lhs).cast("string").alias("l"),
            F.col(rhs).cast("string").alias("r"),
        ).distinct()
        per_lhs = pairs.groupBy("l").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rhs")
        )
        parts.append(
            per_lhs.agg(
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                F.count(F.lit(1)).cast("bigint").alias("n_lhs_values"),
                F.sum((F.col("n_rhs") > 1).cast("int"))
                .cast("bigint")
                .alias("n_violating"),
                (F.sum((F.col("n_rhs") > 1).cast("int")) == 0).alias(
                    "holds"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _fd_oracle() -> str:
    selects = []
    for lhs, rhs in _FD_CANDIDATES:
        selects.append(f"""
SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
       CAST(count(*) AS BIGINT) AS n_lhs_values,
       CAST(sum(CAST(n_rhs > 1 AS INT)) AS BIGINT) AS n_violating,
       sum(CAST(n_rhs > 1 AS INT)) = 0 AS holds
FROM (
  SELECT l, CAST(count(*) AS BIGINT) AS n_rhs FROM (
    SELECT DISTINCT CAST({lhs} AS VARCHAR) AS l,
                    CAST({rhs} AS VARCHAR) AS r
    FROM base
  ) GROUP BY l
)""")
    u = " UNION ALL ".join(selects)
    return f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderpriority, o_orderstatus,
         c_mktsegment, c_nationkey
  FROM orders JOIN customer ON o_custkey = c_custkey
)
{u}
"""


FD_AUDIT_ORACLE = _fd_oracle()


# --------------------------------------------------------------------------
# DP clipped mean (bounded-sensitivity Laplace release)
# --------------------------------------------------------------------------

DP_CLIP_CENTS = 10_000  # clip bound C: values clipped to [0, $100]


@query()
def dp_clipped_mean_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n, clipped_sum_cents, noise_fp, noisy_mean_cents):
    the differentially-private mean event value per type — each
    value is CLIPPED to [0, DP_CLIP_CENTS] cents (bounding the
    per-record sensitivity to C, the step dp_laplace_counts didn't
    need because counts have sensitivity 1), the clipped sum gets
    Laplace(C / eps) noise, and the mean divides by the true count
    (the standard bounded-mean mechanism; a fully-private variant
    would also noise n — composition left to the caller's budget).

    Determinism: the same seeded md5 -> dyadic-u -> inverse-CDF chain
    as dp_laplace_counts, scaled by C, fixed-pointed to BIGINT before
    touching the exact integer sum; the released mean is one division
    of exact integers."""
    events = tables.table(spark, sf_dir, "events")
    per = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.least(
                F.greatest(
                    F.floor(F.col("value") * 100).cast("bigint"), F.lit(0)
                ),
                F.lit(DP_CLIP_CENTS),
            )
        ).cast("bigint").alias("clipped_sum_cents"),
    )
    key = "concat('clipmean|', event_type)"
    h = _DP_H_SPARK.format(key=key)
    noise_fp = (
        f"cast(floor(1000000.0d * {DP_CLIP_CENTS}.0d * "
        f"(-(case when 2*({h}) + 1 > 4294967296L"
        f" then 1 else -1 end) * ln(cast(4294967296L - abs(2*({h}) + 1"
        f" - 4294967296L) as double) / 4294967296.0d)) / {DP_EPS}.0d)"
        f" as bigint)"
    )
    return per.filter(F.col("n") > 0).select(
        "event_type",
        "n",
        "clipped_sum_cents",
        F.expr(noise_fp).alias("noise_fp"),
        F.expr(
            f"cast(clipped_sum_cents * 1000000L + ({noise_fp}) as double)"
            " / (cast(n as double) * 1000000.0d)"
        ).alias("noisy_mean_cents"),
    )


def _dp_clipped_mean_oracle() -> str:
    key = "'clipmean|' || event_type"
    h = _DP_H_DUCK.format(key=key)
    noise_fp = (
        f"CAST(floor(1000000.0 * {DP_CLIP_CENTS}.0 * "
        f"(-(CASE WHEN 2*({h}) + 1 > 4294967296"
        f" THEN 1 ELSE -1 END) * ln(CAST(4294967296 - abs(2*({h}) + 1"
        f" - 4294967296) AS DOUBLE) / 4294967296.0)) / {DP_EPS}.0)"
        f" AS BIGINT)"
    )
    return f"""
WITH per AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(least(greatest(CAST(floor(value * 100) AS BIGINT), 0),
                        {DP_CLIP_CENTS})) AS BIGINT) AS clipped_sum_cents
  FROM events GROUP BY 1
)
SELECT event_type, n, clipped_sum_cents,
       {noise_fp} AS noise_fp,
       CAST(clipped_sum_cents * 1000000 + ({noise_fp}) AS DOUBLE)
         / (CAST(n AS DOUBLE) * 1000000.0) AS noisy_mean_cents
FROM per
WHERE n > 0
"""


DP_CLIPPED_MEAN_ORACLE = _dp_clipped_mean_oracle()


# --------------------------------------------------------------------------
# Population Stability Index (add-one smoothed, fixed-point log terms)
# --------------------------------------------------------------------------

_PSI_FP = 1_000_000_000_000  # 1e12 per-bucket fixed-point scale


@query()
def psi_drift_score_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_baseline, n_current, term_fp, psi_contrib): the
    Population Stability Index between the baseline and current
    halves of the event-value stream (same temporal-midpoint split
    and width_bucket bins as distribution_drift) — the industry-
    standard model-monitoring score, with the usual reading: < 0.1
    stable, 0.1-0.25 shifting, > 0.25 act. Sum psi_contrib for the
    scalar. Complements the chi-square form: PSI is symmetric in the
    two windows and weights by the LOG ratio, so a bucket that grows
    5x from a small base registers loudly where chi-square barely
    moves.

    distribution_drift's docstring once ruled PSI out because a raw
    libm log in a hashed output isn't cross-engine stable; the house
    fixed-point rule that later landed (zipf_fit, js_source_drift)
    resolves exactly that: both probabilities are add-one smoothed
    ratios of exact BIGINTs — p = (c_base+1)/(t_base+B), q =
    (c_cur+1)/(t_cur+B) with B the observed bucket count, so empty
    buckets are finite — and each bucket's (q-p)*ln(q/p) is floored
    to a 1e12 fixed-point BIGINT BEFORE any unordered sum.

    Scale: identical to distribution_drift — one corpus scan into a
    (bucket x window) count grid; everything after is arithmetic on
    <= 22 rows."""
    from .sketches import _BUCKET_EXPR

    ev = tables.table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).select(
        F.expr(
            "timestampadd(SECOND, cast(floor(timestampdiff(SECOND, lo, hi)"
            " / 2) as bigint), lo)"
        ).alias("mid")
    )
    counts = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            (F.col("ts") < F.col("mid")).alias("is_base"),
            F.expr(_BUCKET_EXPR).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.col("is_base").cast("bigint")).alias("n_baseline"),
            F.sum((~F.col("is_base")).cast("bigint")).alias("n_current"),
        )
    )
    totals = counts.agg(
        F.sum("n_baseline").cast("bigint").alias("t_base"),
        F.sum("n_current").cast("bigint").alias("t_cur"),
        F.count(F.lit(1)).cast("bigint").alias("b"),
    )
    p = (F.col("n_baseline") + F.lit(1)).cast("double") / (
        F.col("t_base") + F.col("b")
    ).cast("double")
    q = (F.col("n_current") + F.lit(1)).cast("double") / (
        F.col("t_cur") + F.col("b")
    ).cast("double")
    term_fp = F.floor(F.lit(float(_PSI_FP)) * (q - p) * F.log(q / p)).cast(
        "bigint"
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.col("n_baseline").cast("bigint").alias("n_baseline"),
        F.col("n_current").cast("bigint").alias("n_current"),
        term_fp.alias("term_fp"),
        (term_fp.cast("double") / F.lit(float(_PSI_FP))).alias(
            "psi_contrib"
        ),
    )


def _psi_oracle() -> str:
    from .sketches import _BUCKET_EXPR

    return f"""
WITH bounds AS (
  SELECT min(ts) + to_seconds(CAST(floor(epoch(max(ts) - min(ts)) / 2)
                              AS BIGINT)) AS mid
  FROM events
),
counts AS (
  SELECT {_BUCKET_EXPR} AS bucket,
         CAST(sum(CASE WHEN ts < mid THEN 1 ELSE 0 END) AS BIGINT)
           AS n_baseline,
         CAST(sum(CASE WHEN ts < mid THEN 0 ELSE 1 END) AS BIGINT)
           AS n_current
  FROM events CROSS JOIN bounds
  GROUP BY 1
),
totals AS (
  SELECT CAST(sum(n_baseline) AS BIGINT) AS t_base,
         CAST(sum(n_current) AS BIGINT) AS t_cur,
         CAST(count(*) AS BIGINT) AS b
  FROM counts
)
SELECT bucket, n_baseline, n_current,
       CAST(floor({float(_PSI_FP)!r}
         * ((CAST(n_current + 1 AS DOUBLE) / CAST(t_cur + b AS DOUBLE))
            - (CAST(n_baseline + 1 AS DOUBLE) / CAST(t_base + b AS DOUBLE)))
         * ln((CAST(n_current + 1 AS DOUBLE) / CAST(t_cur + b AS DOUBLE))
              / (CAST(n_baseline + 1 AS DOUBLE)
                 / CAST(t_base + b AS DOUBLE)))) AS BIGINT) AS term_fp,
       CAST(floor({float(_PSI_FP)!r}
         * ((CAST(n_current + 1 AS DOUBLE) / CAST(t_cur + b AS DOUBLE))
            - (CAST(n_baseline + 1 AS DOUBLE) / CAST(t_base + b AS DOUBLE)))
         * ln((CAST(n_current + 1 AS DOUBLE) / CAST(t_cur + b AS DOUBLE))
              / (CAST(n_baseline + 1 AS DOUBLE)
                 / CAST(t_base + b AS DOUBLE)))) AS BIGINT)
         / {float(_PSI_FP)!r} AS psi_contrib
FROM counts CROSS JOIN totals
"""


PSI_DRIFT_SCORE_ORACLE = _psi_oracle()

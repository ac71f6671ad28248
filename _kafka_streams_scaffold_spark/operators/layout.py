"""Data-layout operators: Z-order (Morton) clustering keys.

At 100 TB the fastest query is the one that skips files: sorting a
table by a SINGLE column gives min/max pruning on that column only,
while writing it ordered by an interleaved-bit (Z-order) key keeps
EVERY interleaved dimension's value range narrow within each file, so
parquet row-group min/max statistics prune multi-dimensional
predicates (the Delta/Iceberg OPTIMIZE ZORDER story, from Morton 1966
via the UB-tree work of Ramsak et al. 2000).

The operator computes the key the way a layout writer does — each
dimension RANGE-NORMALIZED to the full Z_BITS domain from a one-row
min/max aggregate (raw values would waste the high interleave bits
whenever a dimension's range is much smaller than 2^Z_BITS) — and
PROVES the locality property as a hash-checked result: bucket the
corpus by Z-prefix (the file boundary a writer would cut) and report
each bucket's per-dimension value spans; narrow spans = effective
pruning. All arithmetic is exact BIGINT (integer division, no float
rounding), identical on both engines.

Reference scope note: the Kafka Streams scaffold has no layout tier;
this extends the storage story per the north-star brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..registry import query

Z_BITS = 16  # bits kept per dimension after range normalization
Z_PREFIX_BITS = 6  # top bits of the z-value = "file" boundary (64 buckets)


def _interleave(x: str, y: str, engine: str) -> str:
    """Morton-interleave the low Z_BITS of two BIGINT expressions:
    x's bit i lands at position 2i, y's at 2i+1. Written as an
    explicit OR-free SUM of disjoint powers of two (the terms never
    overlap), which both engines evaluate exactly in BIGINT."""
    terms = []
    for i in range(Z_BITS):
        if engine == "spark":
            terms.append(f"(shiftright({x}, {i}) & 1) * {1 << (2 * i)}")
            terms.append(f"(shiftright({y}, {i}) & 1) * {1 << (2 * i + 1)}")
        else:
            terms.append(f"(({x} >> {i}) & 1) * {1 << (2 * i)}")
            terms.append(f"(({y} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@query()
def zorder_layout_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(zbucket, n_rows, custkey_lo, custkey_hi, day_lo, day_hi):
    orders bucketed by the top Z_PREFIX_BITS of their Morton key over
    (custkey, order day) — each bucket is the row set a Z-ordered
    writer would colocate into one file, and the emitted per-bucket
    spans of BOTH dimensions are the min/max statistics a reader
    would prune on. One scan computes the per-row key (pure codegen
    bit arithmetic over the broadcast one-row min/max frame) and one
    partial-aggregatable groupBy on a 2^Z_PREFIX_BITS-value key rolls
    up the spans; tests assert the locality property itself (mean
    bucket span << table-wide span on both dimensions)."""
    orders = tables.table(spark, sf_dir, "orders")
    day = "cast(datediff(to_date(o_orderdate), DATE '1970-01-01') as bigint)"
    base = orders.select(
        F.col("o_custkey").cast("bigint").alias("ck"),
        F.expr(day).alias("dy"),
    )
    bounds = base.agg(
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("dy").alias("dy_lo"),
        F.max("dy").alias("dy_hi"),
    )
    top = (1 << Z_BITS) - 1
    xn = (
        f"(ck - ck_lo) * {top} div greatest(cast(1 as bigint), ck_hi - ck_lo)"
    )
    yn = (
        f"(dy - dy_lo) * {top} div greatest(cast(1 as bigint), dy_hi - dy_lo)"
    )
    z = _interleave(f"({xn})", f"({yn})", "spark")
    shift = 2 * Z_BITS - Z_PREFIX_BITS
    return (
        base.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(f"shiftright({z}, {shift})").cast("int").alias("zbucket"),
            "ck",
            "dy",
        )
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("ck").alias("custkey_lo"),
            F.max("ck").alias("custkey_hi"),
            F.min("dy").alias("day_lo"),
            F.max("dy").alias("day_hi"),
        )
    )


def _zorder_oracle() -> str:
    top = (1 << Z_BITS) - 1
    xn = f"((ck - ck_lo) * {top} // greatest(CAST(1 AS BIGINT), ck_hi - ck_lo))"
    yn = f"((dy - dy_lo) * {top} // greatest(CAST(1 AS BIGINT), dy_hi - dy_lo))"
    z = _interleave(xn, yn, "duck")
    shift = 2 * Z_BITS - Z_PREFIX_BITS
    return f"""
WITH base AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dy
  FROM orders
),
bounds AS (
  SELECT min(ck) AS ck_lo, max(ck) AS ck_hi,
         min(dy) AS dy_lo, max(dy) AS dy_hi
  FROM base
)
SELECT CAST({z} >> {shift} AS INT) AS zbucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(ck) AS custkey_lo,
       max(ck) AS custkey_hi,
       min(dy) AS day_lo,
       max(dy) AS day_hi
FROM base CROSS JOIN bounds
GROUP BY 1
"""


ZORDER_LAYOUT_ORACLE = _zorder_oracle()


# --------------------------------------------------------------------------
# Small-files compaction plan
# --------------------------------------------------------------------------

COMPACTION_TARGET_CHARS = 2_000_000  # ~2 MB of text per output file


@query()
def compaction_plan_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, total_chars, target_files, docs_per_file): the
    write-side layout plan a lakehouse maintenance job computes before
    rewriting a corpus partition — how many output files each source
    needs so files land near COMPACTION_TARGET_CHARS, and the
    repartition count to get there. Small-file proliferation is the
    classic 100 TB operational failure (NameNode/manifest pressure,
    scan task explosion); this is the query that sizes
    ``df.repartition(target_files)`` per source. Ceil divisions are
    integer-exact on both engines ((a + b - 1) div b — no float
    rounding), and the whole plan is one combinable rollup."""
    docs = tables.table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
    )
    target = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr(
            f"(total_chars + {COMPACTION_TARGET_CHARS} - 1)"
            f" div {COMPACTION_TARGET_CHARS}"
        ),
    )
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        target.alias("target_files"),
        F.expr(
            "(n_docs + target_files - 1) div target_files"
        ).alias("docs_per_file"),
    ).withColumn("docs_per_file", F.col("docs_per_file").cast("bigint"))


COMPACTION_PLAN_ORACLE = f"""
WITH agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM documents GROUP BY source
),
planned AS (
  SELECT source, n_docs, total_chars,
         greatest(CAST(1 AS BIGINT),
                  (total_chars + {COMPACTION_TARGET_CHARS} - 1)
                    // {COMPACTION_TARGET_CHARS}) AS target_files
  FROM agg
)
SELECT source, n_docs, total_chars, target_files,
       CAST((n_docs + target_files - 1) // target_files AS BIGINT)
         AS docs_per_file
FROM planned
"""


# --------------------------------------------------------------------------
# Zone-map skip audit: what each layout lets a reader NOT read
# --------------------------------------------------------------------------

SKIP_BUCKETS = 64  # files per simulated layout
# the probe predicate: the middle decile box on both dimensions
_BOX_LO_PCT, _BOX_HI_PCT = 45, 55


@query()
def zone_map_skip_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(layout, n_buckets, buckets_scanned, rows_scanned, rows_matching):
    the file-skipping effectiveness of three physical layouts of the
    SAME orders table against one fixed two-dimensional range
    predicate (the middle decile of custkey x the middle decile of
    order day). Each layout cuts the table into SKIP_BUCKETS
    "files"; a reader consults per-file min/max zone maps and scans
    only files whose [min,max] box intersects the predicate box:

    - ``natural``: insertion order (bucket by orderkey range) — zone
      maps are useless for value predicates; expect ~all files read.
    - ``custkey_sort``: single-column sort — prunes hard on custkey,
      blind on day.
    - ``zorder``: Morton interleave of both — prunes on BOTH, the
      quantified version of zorder_layout's span argument.

    rows_matching is identical across layouts (same predicate, same
    data) — carrying it in the result makes the audit self-checking.
    Everything is exact BIGINT bucket/bounds arithmetic; one scan
    derives all three bucket ids per row and three SKIP_BUCKETS-sized
    rollups + intersect flags produce the 3-row summary. At 100 TB
    this is precisely the parquet row-group pruning story measured
    instead of asserted."""
    orders = tables.table(spark, sf_dir, "orders")
    day = "cast(datediff(to_date(o_orderdate), DATE '1970-01-01') as bigint)"
    base = orders.select(
        F.col("o_orderkey").cast("bigint").alias("ok"),
        F.col("o_custkey").cast("bigint").alias("ck"),
        F.expr(day).alias("dy"),
    )
    bounds = base.agg(
        F.min("ok").alias("ok_lo"),
        F.max("ok").alias("ok_hi"),
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("dy").alias("dy_lo"),
        F.max("dy").alias("dy_hi"),
    )
    top = (1 << Z_BITS) - 1
    xn = f"(ck - ck_lo) * {top} div greatest(cast(1 as bigint), ck_hi - ck_lo)"
    yn = f"(dy - dy_lo) * {top} div greatest(cast(1 as bigint), dy_hi - dy_lo)"
    z = _interleave(f"({xn})", f"({yn})", "spark")
    zshift = 2 * Z_BITS - Z_PREFIX_BITS
    nb = SKIP_BUCKETS

    def rng(col: str, lo: str, hi: str) -> str:
        return (
            f"cast(least(cast({nb - 1} as bigint), ({col} - {lo}) * {nb}"
            f" div greatest(cast(1 as bigint), {hi} - {lo} + 1)) as int)"
        )

    box = (
        "ck >= ck_lo + (ck_hi - ck_lo) * {l} div 100 AND "
        "ck <= ck_lo + (ck_hi - ck_lo) * {h} div 100 AND "
        "dy >= dy_lo + (dy_hi - dy_lo) * {l} div 100 AND "
        "dy <= dy_lo + (dy_hi - dy_lo) * {h} div 100"
    ).format(l=_BOX_LO_PCT, h=_BOX_HI_PCT)
    tagged = base.crossJoin(F.broadcast(bounds)).select(
        "ck",
        "dy",
        F.expr(rng("ok", "ok_lo", "ok_hi")).alias("b_natural"),
        F.expr(rng("ck", "ck_lo", "ck_hi")).alias("b_custkey_sort"),
        F.expr(f"cast(shiftright({z}, {zshift}) as int)").alias("b_zorder"),
        F.expr(f"cast(({box}) as int)").alias("hit"),
        "ck_lo", "ck_hi", "dy_lo", "dy_hi",
    )
    intersects = (
        "min_ck <= ck_lo + (ck_hi - ck_lo) * {h} div 100 AND "
        "max_ck >= ck_lo + (ck_hi - ck_lo) * {l} div 100 AND "
        "min_dy <= dy_lo + (dy_hi - dy_lo) * {h} div 100 AND "
        "max_dy >= dy_lo + (dy_hi - dy_lo) * {l} div 100"
    ).format(l=_BOX_LO_PCT, h=_BOX_HI_PCT)
    parts = []
    for layout in ("natural", "custkey_sort", "zorder"):
        per_bucket = (
            tagged.groupBy(F.col(f"b_{layout}").alias("bucket"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("hit").cast("bigint").alias("n_hit"),
                F.min("ck").alias("min_ck"),
                F.max("ck").alias("max_ck"),
                F.min("dy").alias("min_dy"),
                F.max("dy").alias("max_dy"),
            )
            .crossJoin(F.broadcast(bounds))
            .select(
                "n_rows",
                "n_hit",
                F.expr(f"cast(({intersects}) as int)").alias("scanned"),
            )
        )
        parts.append(
            per_bucket.agg(
                F.lit(layout).alias("layout"),
                F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
                F.sum("scanned").cast("bigint").alias("buckets_scanned"),
                F.sum(F.col("scanned") * F.col("n_rows"))
                .cast("bigint")
                .alias("rows_scanned"),
                F.sum("n_hit").cast("bigint").alias("rows_matching"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _skip_audit_oracle() -> str:
    top = (1 << Z_BITS) - 1
    xn = f"((ck - ck_lo) * {top} // greatest(CAST(1 AS BIGINT), ck_hi - ck_lo))"
    yn = f"((dy - dy_lo) * {top} // greatest(CAST(1 AS BIGINT), dy_hi - dy_lo))"
    z = _interleave(xn, yn, "duck")
    zshift = 2 * Z_BITS - Z_PREFIX_BITS
    nb = SKIP_BUCKETS

    def rng(col: str, lo: str, hi: str) -> str:
        return (
            f"CAST(least(CAST({nb - 1} AS BIGINT), ({col} - {lo}) * {nb}"
            f" // greatest(CAST(1 AS BIGINT), {hi} - {lo} + 1)) AS INT)"
        )

    box = (
        "ck >= ck_lo + (ck_hi - ck_lo) * {l} // 100 AND "
        "ck <= ck_lo + (ck_hi - ck_lo) * {h} // 100 AND "
        "dy >= dy_lo + (dy_hi - dy_lo) * {l} // 100 AND "
        "dy <= dy_lo + (dy_hi - dy_lo) * {h} // 100"
    ).format(l=_BOX_LO_PCT, h=_BOX_HI_PCT)
    intersects = (
        "min_ck <= ck_lo + (ck_hi - ck_lo) * {h} // 100 AND "
        "max_ck >= ck_lo + (ck_hi - ck_lo) * {l} // 100 AND "
        "min_dy <= dy_lo + (dy_hi - dy_lo) * {h} // 100 AND "
        "max_dy >= dy_lo + (dy_hi - dy_lo) * {l} // 100"
    ).format(l=_BOX_LO_PCT, h=_BOX_HI_PCT)
    selects = []
    for layout, bexpr in (
        ("natural", rng("ok", "ok_lo", "ok_hi")),
        ("custkey_sort", rng("ck", "ck_lo", "ck_hi")),
        ("zorder", f"CAST({z} >> {zshift} AS INT)"),
    ):
        selects.append(f"""
SELECT '{layout}' AS layout,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(scanned) AS BIGINT) AS buckets_scanned,
       CAST(sum(scanned * n_rows) AS BIGINT) AS rows_scanned,
       CAST(sum(n_hit) AS BIGINT) AS rows_matching
FROM (
  SELECT n_rows, n_hit, CAST(({intersects}) AS INT) AS scanned
  FROM (
    SELECT {bexpr} AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(({box}) AS INT)) AS BIGINT) AS n_hit,
           min(ck) AS min_ck, max(ck) AS max_ck,
           min(dy) AS min_dy, max(dy) AS max_dy
    FROM base CROSS JOIN bounds
    GROUP BY 1
  ) CROSS JOIN bounds
)""")
    u = " UNION ALL ".join(selects)
    return f"""
WITH base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS ok,
         CAST(o_custkey AS BIGINT) AS ck,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dy
  FROM orders
),
bounds AS (
  SELECT min(ok) AS ok_lo, max(ok) AS ok_hi,
         min(ck) AS ck_lo, max(ck) AS ck_hi,
         min(dy) AS dy_lo, max(dy) AS dy_hi
  FROM base
)
{u}
"""


ZONE_MAP_SKIP_AUDIT_ORACLE = _skip_audit_oracle()


# --------------------------------------------------------------------------
# Rendezvous (HRW) resharding audit: minimal movement under growth
# --------------------------------------------------------------------------

HRW_SHARDS = 16  # fleet size before the resize
HRW_GROWN = HRW_SHARDS + 1


def _hrw_owner(n_shards: int, engine: str) -> str:
    """Highest-random-weight owner of each doc among n_shards: the
    argmax over shards of md5(doc_id | shard). Unrolled as a greatest
    over per-shard scores with the shard id packed into the low bits
    (score * n + shard), so the argmax needs ONE expression and ties
    (md5 collisions, effectively impossible) break deterministically
    toward the higher shard on both engines."""
    terms = []
    for s in range(n_shards):
        if engine == "spark":
            h = (
                f"cast(conv(substring(md5(concat('hrw|', cast(doc_id as"
                f" string), '|', '{s}')), 1, 13), 16, 10) as bigint)"
            )
        else:
            h = (
                f"CAST('0x' || substring(md5('hrw|' ||"
                f" CAST(doc_id AS VARCHAR) || '|' || '{s}'), 1, 13)"
                f" AS BIGINT)"
            )
        terms.append(f"{h} * {n_shards} + {s}")
    g = "greatest(" + ", ".join(terms) + ")"
    return f"({g} % {n_shards})"


@query(oracle="RENDEZVOUS_RESHARD_ORACLE")
def rendezvous_reshard_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_docs, n_moved, moved_share, max_shard_load, min_shard_load):
    what growing a rendezvous-hashed (HRW, Thaler & Ravishankar '96)
    fleet from HRW_SHARDS to HRW_SHARDS+1 moves. HRW's guarantee —
    the reason consistent placement beats mod-N for elastic clusters —
    is that a key moves ONLY if the new shard wins its rendezvous,
    so the expected moved share is exactly 1/(N+1), versus mod-N
    where virtually every key moves. The audit computes both owners
    per doc in one codegen'd pass and reports the realized movement
    plus the post-resize load spread (HRW is also load-balanced: the
    max/min shard loads bracket the uniform share).

    Everything is exact integer md5 arithmetic — the owner argmax is
    a greatest() over per-shard scores with the shard id packed into
    the low bits, one expression per row, no shuffle at all until the
    final one-row aggregate. At 100 TB this is the audit you run
    BEFORE a fleet resize to size the rebalance traffic."""
    docs = tables.spread(tables.table(spark, sf_dir, "documents"), "doc_id")
    owners = docs.select(
        F.expr(_hrw_owner(HRW_SHARDS, "spark")).alias("o_old"),
        F.expr(_hrw_owner(HRW_GROWN, "spark")).alias("o_new"),
    )
    per_shard = owners.groupBy("o_new").agg(
        F.count(F.lit(1)).cast("bigint").alias("load")
    )
    loads = per_shard.agg(
        F.max("load").alias("max_shard_load"),
        F.min("load").alias("min_shard_load"),
    )
    moved = owners.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("o_old") != F.col("o_new")).cast("int"))
        .cast("bigint")
        .alias("n_moved"),
    )
    return moved.crossJoin(F.broadcast(loads)).select(
        "n_docs",
        "n_moved",
        (
            F.col("n_moved").cast("double") / F.col("n_docs").cast("double")
        ).alias("moved_share"),
        "max_shard_load",
        "min_shard_load",
    )


def _hrw_oracle() -> str:
    return f"""
WITH owners AS (
  SELECT {_hrw_owner(HRW_SHARDS, "duck")} AS o_old,
         {_hrw_owner(HRW_GROWN, "duck")} AS o_new
  FROM documents
),
loads AS (
  SELECT max(load) AS max_shard_load, min(load) AS min_shard_load
  FROM (SELECT CAST(count(*) AS BIGINT) AS load FROM owners GROUP BY o_new)
),
moved AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST(o_old <> o_new AS INT)) AS BIGINT) AS n_moved
  FROM owners
)
SELECT n_docs, n_moved,
       CAST(n_moved AS DOUBLE) / CAST(n_docs AS DOUBLE) AS moved_share,
       max_shard_load, min_shard_load
FROM moved CROSS JOIN loads
"""


RENDEZVOUS_RESHARD_ORACLE = _hrw_oracle()


# --------------------------------------------------------------------------
# Hilbert-curve layout (stronger locality sibling of zorder_layout)
# --------------------------------------------------------------------------

HB_BITS = 8            # bits per dimension (256 x 256 grid)
HB_N = 1 << HB_BITS
HB_PREFIX_BITS = 6     # top bits of the Hilbert index = 64 buckets


def _hilbert_levels(x0: str, y0: str) -> list[tuple[str, str, str]]:
    """Per-level (x, y, d-increment) expression templates for the
    classic xy2d transform (Wikipedia's iterative form), engine
    neutral: plain CASE/&/* only — the quadrant index (3*rx)^ry is
    expanded as a CASE over the four (rx, ry) combinations, so no
    engine-specific xor is needed. Each level's expressions reference
    the PREVIOUS level's columns; callers chain them as projections
    (Spark: chained select; DuckDB: nested subselects)."""
    levels = []
    for i in range(HB_BITS):
        s = 1 << (HB_BITS - 1 - i)
        rx = f"(case when (x & {s}) > 0 then 1 else 0 end)"
        ry = f"(case when (y & {s}) > 0 then 1 else 0 end)"
        quad = (
            f"(case when {rx} = 0 and {ry} = 0 then 0 "
            f"when {rx} = 0 and {ry} = 1 then 1 "
            f"when {rx} = 1 and {ry} = 1 then 2 "
            f"else 3 end)"
        )
        d_inc = f"d + cast({s} as bigint) * {s} * {quad}"
        nx = (
            f"(case when {ry} = 1 then x "
            f"when {rx} = 1 then {HB_N - 1} - y else y end)"
        )
        ny = (
            f"(case when {ry} = 1 then y "
            f"when {rx} = 1 then {HB_N - 1} - x else x end)"
        )
        levels.append((nx, ny, d_inc))
    _ = (x0, y0)  # templates always read columns named x/y/d
    return levels


@query()
def hilbert_layout_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(hbucket, n_rows, custkey_lo, custkey_hi, day_lo, day_hi):
    orders bucketed by the top HB_PREFIX_BITS of their HILBERT index
    over (custkey, order day) — the stronger-locality sibling of
    zorder_layout: the Hilbert curve never takes the long diagonal
    jumps Morton order takes at quadrant boundaries, so per-bucket
    min/max spans (what zone-map pruning reads) are tighter for the
    same bucket count. Delta/Iceberg expose exactly this choice
    (ZORDER vs Hilbert clustering); emitting both from one repo lets
    the layout decision be A/B'd on real span statistics
    (tests assert hilbert mean span <= zorder's on both dims).

    The xy2d transform is a per-ROW chain of HB_BITS integer CASE
    levels (state (x, y, d) threaded level to level) — pure
    whole-stage-codegen arithmetic, no UDF, no shuffle beyond the
    final 64-key rollup; the oracle nests the SAME generated levels
    as subselects, and a unit test checks the transform is a
    bijection against a pure-Python reference."""
    orders = tables.table(spark, sf_dir, "orders")
    day = "cast(datediff(to_date(o_orderdate), DATE '1970-01-01') as bigint)"
    base = orders.select(
        F.col("o_custkey").cast("bigint").alias("ck"),
        F.expr(day).alias("dy"),
    )
    bounds = base.agg(
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("dy").alias("dy_lo"),
        F.max("dy").alias("dy_hi"),
    )
    top = HB_N - 1
    xn = (
        f"(ck - ck_lo) * {top} div greatest(cast(1 as bigint), ck_hi - ck_lo)"
    )
    yn = (
        f"(dy - dy_lo) * {top} div greatest(cast(1 as bigint), dy_hi - dy_lo)"
    )
    cur = base.crossJoin(F.broadcast(bounds)).select(
        "ck",
        "dy",
        F.expr(xn).cast("bigint").alias("x"),
        F.expr(yn).cast("bigint").alias("y"),
        F.lit(0).cast("bigint").alias("d"),
    )
    for nx, ny, nd in _hilbert_levels("x", "y"):
        cur = cur.select(
            "ck",
            "dy",
            F.expr(nx).cast("bigint").alias("x"),
            F.expr(ny).cast("bigint").alias("y"),
            F.expr(nd).cast("bigint").alias("d"),
        )
    shift = 2 * HB_BITS - HB_PREFIX_BITS
    return (
        cur.select(
            F.expr(f"d div {1 << shift}").cast("int").alias("hbucket"),
            "ck",
            "dy",
        )
        .groupBy("hbucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("ck").alias("custkey_lo"),
            F.max("ck").alias("custkey_hi"),
            F.min("dy").alias("day_lo"),
            F.max("dy").alias("day_hi"),
        )
    )


def _hilbert_oracle() -> str:
    top = HB_N - 1
    inner = f"""
SELECT ck, dy,
       CAST((ck - ck_lo) * {top}
            // greatest(CAST(1 AS BIGINT), ck_hi - ck_lo) AS BIGINT) AS x,
       CAST((dy - dy_lo) * {top}
            // greatest(CAST(1 AS BIGINT), dy_hi - dy_lo) AS BIGINT) AS y,
       CAST(0 AS BIGINT) AS d
FROM (SELECT CAST(o_custkey AS BIGINT) AS ck,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS dy
      FROM orders)
CROSS JOIN (SELECT min(CAST(o_custkey AS BIGINT)) AS ck_lo,
                   max(CAST(o_custkey AS BIGINT)) AS ck_hi,
                   min(date_diff('day', DATE '1970-01-01',
                                 CAST(o_orderdate AS DATE))) AS dy_lo,
                   max(date_diff('day', DATE '1970-01-01',
                                 CAST(o_orderdate AS DATE))) AS dy_hi
            FROM orders)"""
    for nx, ny, nd in _hilbert_levels("x", "y"):
        inner = f"""
SELECT ck, dy,
       CAST({nx} AS BIGINT) AS x,
       CAST({ny} AS BIGINT) AS y,
       CAST({nd} AS BIGINT) AS d
FROM ({inner})"""
    shift = 2 * HB_BITS - HB_PREFIX_BITS
    return f"""
SELECT CAST(d // {1 << shift} AS INT) AS hbucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(ck) AS custkey_lo, max(ck) AS custkey_hi,
       min(dy) AS day_lo, max(dy) AS day_hi
FROM ({inner})
GROUP BY 1
"""


HILBERT_LAYOUT_ORACLE = _hilbert_oracle()


# --------------------------------------------------------------------------
# Curve-locality audit: Hilbert vs Morton neighbor distance
# --------------------------------------------------------------------------


def _morton8(x: str, y: str, engine: str) -> str:
    """16-bit Morton code of an 8-bit (x, y) cell — bit interleave
    written as integer-div/mod arithmetic (no engine shift/xor
    builtins; only the integer-division spelling differs: Spark
    ``div``, DuckDB ``//``)."""
    d = "div" if engine == "spark" else "//"
    terms = []
    for i in range(HB_BITS):
        terms.append(f"(({x} {d} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({y} {d} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@query()
def layout_locality_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(curve, n_cells, n_pairs, total_l1, mean_l1): the measured
    locality of the two space-filling layouts this repo offers
    (``zorder_layout`` / ``hilbert_layout``) on the SAME occupied
    (custkey, day) grid — walk the occupied cells in curve order and
    sum the L1 grid distance between consecutive cells. Hilbert's
    guarantee is that consecutive curve positions are grid neighbors
    (distance 1), while Morton takes long diagonal jumps at quadrant
    seams; on occupied-cell SUBSETS both degrade, and this audit
    measures by how much — the number that justifies choosing
    Hilbert clustering before paying for a rewrite.

    Determinism: the walk is over DISTINCT occupied cells (so the
    pair multiset is unique regardless of row order) ordered by the
    exact integer curve key, and distances are exact integers.

    Scale: rows collapse to occupied cells first — the audit frame is
    bounded by the 2^(2*HB_BITS) grid (65k cells) no matter the
    corpus size; the consecutive-pair window on it is single-
    partition by construction and grid-bounded (the same deliberate
    pattern as gap_fill_daily's day spine)."""
    orders = tables.table(spark, sf_dir, "orders")
    day = "cast(datediff(to_date(o_orderdate), DATE '1970-01-01') as bigint)"
    base = orders.select(
        F.col("o_custkey").cast("bigint").alias("ck"),
        F.expr(day).alias("dy"),
    )
    bounds = base.agg(
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("dy").alias("dy_lo"),
        F.max("dy").alias("dy_hi"),
    )
    top = HB_N - 1
    xn = (
        f"(ck - ck_lo) * {top} div greatest(cast(1 as bigint), ck_hi - ck_lo)"
    )
    yn = (
        f"(dy - dy_lo) * {top} div greatest(cast(1 as bigint), dy_hi - dy_lo)"
    )
    cells = (
        base.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(xn).cast("bigint").alias("x"),
            F.expr(yn).cast("bigint").alias("y"),
        )
        .distinct()
    )
    hil = cells.select("x", "y", F.lit(0).cast("bigint").alias("d"))
    # thread the xy2d levels over copies named x/y (the transform
    # mutates them), keeping the ORIGINAL cell coordinates aside
    hil = hil.select(
        F.col("x").alias("cx"), F.col("y").alias("cy"), "x", "y", "d"
    )
    for nx, ny, nd in _hilbert_levels("x", "y"):
        hil = hil.select(
            "cx",
            "cy",
            F.expr(nx).cast("bigint").alias("x"),
            F.expr(ny).cast("bigint").alias("y"),
            F.expr(nd).cast("bigint").alias("d"),
        )
    keyed = hil.select(
        "cx", "cy", F.col("d").alias("hkey")
    ).withColumn(
        "zkey", F.expr(_morton8("cx", "cy", "spark")).cast("bigint")
    )

    def _walk(df: DataFrame, key: str, label: str) -> DataFrame:
        w = Window.orderBy(key, "cx", "cy")
        stepped = df.select(
            "cx",
            "cy",
            F.lag("cx").over(w).alias("px"),
            F.lag("cy").over(w).alias("py"),
        )
        return stepped.agg(
            F.lit(label).alias("curve"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum(F.col("px").isNotNull().cast("int"))
            .cast("bigint")
            .alias("n_pairs"),
            F.coalesce(
                F.sum(
                    F.abs(F.col("cx") - F.col("px"))
                    + F.abs(F.col("cy") - F.col("py"))
                ),
                F.lit(0),
            ).cast("bigint").alias("total_l1"),
        ).select(
            "curve",
            "n_cells",
            "n_pairs",
            "total_l1",
            F.when(
                F.col("n_pairs") > 0,
                F.col("total_l1").cast("double")
                / F.col("n_pairs").cast("double"),
            ).otherwise(F.lit(0.0)).alias("mean_l1"),
        ).filter(F.col("n_cells") > 0)

    return _walk(keyed, "hkey", "hilbert").unionAll(
        _walk(keyed, "zkey", "morton")
    )


def _locality_oracle() -> str:
    top = HB_N - 1
    inner = f"""
SELECT cx, cy, x, y, CAST(0 AS BIGINT) AS d
FROM (
  SELECT DISTINCT
         CAST((ck - ck_lo) * {top}
              // greatest(CAST(1 AS BIGINT), ck_hi - ck_lo) AS BIGINT) AS x,
         CAST((dy - dy_lo) * {top}
              // greatest(CAST(1 AS BIGINT), dy_hi - dy_lo) AS BIGINT) AS y,
         CAST((ck - ck_lo) * {top}
              // greatest(CAST(1 AS BIGINT), ck_hi - ck_lo) AS BIGINT) AS cx,
         CAST((dy - dy_lo) * {top}
              // greatest(CAST(1 AS BIGINT), dy_hi - dy_lo) AS BIGINT) AS cy
  FROM (SELECT CAST(o_custkey AS BIGINT) AS ck,
               date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS dy
        FROM orders)
  CROSS JOIN (SELECT min(CAST(o_custkey AS BIGINT)) AS ck_lo,
                     max(CAST(o_custkey AS BIGINT)) AS ck_hi,
                     min(date_diff('day', DATE '1970-01-01',
                                   CAST(o_orderdate AS DATE))) AS dy_lo,
                     max(date_diff('day', DATE '1970-01-01',
                                   CAST(o_orderdate AS DATE))) AS dy_hi
              FROM orders)
)"""
    for nx, ny, nd in _hilbert_levels("x", "y"):
        inner = f"""
SELECT cx, cy,
       CAST({nx} AS BIGINT) AS x,
       CAST({ny} AS BIGINT) AS y,
       CAST({nd} AS BIGINT) AS d
FROM ({inner})"""
    walk = """
SELECT '{label}' AS curve,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(CASE WHEN px IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pairs,
       CAST(COALESCE(sum(abs(cx - px) + abs(cy - py)), 0) AS BIGINT)
         AS total_l1,
       CASE WHEN sum(CASE WHEN px IS NOT NULL THEN 1 ELSE 0 END) > 0 THEN
         CAST(COALESCE(sum(abs(cx - px) + abs(cy - py)), 0) AS DOUBLE)
         / CAST(sum(CASE WHEN px IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       ELSE 0.0 END AS mean_l1
FROM (
  SELECT cx, cy,
         lag(cx) OVER (ORDER BY {key}, cx, cy) AS px,
         lag(cy) OVER (ORDER BY {key}, cx, cy) AS py
  FROM keyed
)
HAVING count(*) > 0"""
    return f"""
WITH keyed AS MATERIALIZED (
  SELECT cx, cy, d AS hkey, {_morton8('cx', 'cy', 'duck')} AS zkey
  FROM ({inner})
)
{walk.format(label='hilbert', key='hkey')}
UNION ALL
{walk.format(label='morton', key='zkey')}
"""


LAYOUT_LOCALITY_AUDIT_ORACLE = _locality_oracle()


# --------------------------------------------------------------------------
# Bucket-count planning (co-located join layout sizing)
# --------------------------------------------------------------------------

BUCKET_TARGET_ROWS = 1 << 16  # rows per bucket the plan aims for


@query()
def bucket_plan_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tbl, key, n_rows, ndv, rows_per_key_x1000, buckets): the
    bucket-count plan for the three join keys this repo's heavy
    relational queries shuffle on — pick the next power of two that
    keeps ~BUCKET_TARGET_ROWS rows per bucket (powers of two so a
    2-bucket table co-partitions with a 64-bucket one under
    bucket-union semantics, the Hive/Iceberg convention). The NDV
    column is the sanity gate: buckets beyond the key's NDV can never
    fill and flag a key too coarse to bucket on.

    The power-of-two is computed from the BIGINT binary rendering
    (length(bin(x - 1)) = ceil(log2(x)) for x >= 2) — exact on both
    engines, no float log. rows_per_key is emitted x1000 as an
    integer (div) to keep the row free of engine division quirks.

    Scale: three partial-aggregatable (count, count distinct)
    rollups; output is catalog-sized. This is the PLANNING half of
    ``sources/bucketed.py``'s bucketed-join executor."""
    rows = []
    for tbl, key in (
        ("orders", "o_custkey"),
        ("lineitem", "l_orderkey"),
        ("customer", "c_custkey"),
    ):
        t = tables.table(spark, sf_dir, tbl)
        rows.append(
            t.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct(key).cast("bigint").alias("ndv"),
            ).select(
                F.lit(tbl).alias("tbl"),
                F.lit(key).alias("key"),
                "n_rows",
                "ndv",
                F.expr("(n_rows * 1000) div greatest(ndv, cast(1 as bigint))")
                .cast("bigint")
                .alias("rows_per_key_x1000"),
                F.expr(
                    f"case when n_rows <= {BUCKET_TARGET_ROWS} then"
                    " cast(1 as bigint) else shiftleft(cast(1 as bigint),"
                    f" length(bin((n_rows - 1) div {BUCKET_TARGET_ROWS})))"
                    " end"
                ).alias("buckets"),
            ).filter(F.col("n_rows") > 0)
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def _bucket_plan_oracle() -> str:
    arms = []
    for tbl, key in (
        ("orders", "o_custkey"),
        ("lineitem", "l_orderkey"),
        ("customer", "c_custkey"),
    ):
        arms.append(f"""
SELECT '{tbl}' AS tbl, '{key}' AS key,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT {key}) AS BIGINT) AS ndv,
       CAST((count(*) * 1000)
            // greatest(count(DISTINCT {key}), 1) AS BIGINT)
         AS rows_per_key_x1000,
       CASE WHEN count(*) <= {BUCKET_TARGET_ROWS} THEN CAST(1 AS BIGINT)
            ELSE CAST(1 AS BIGINT)
                 << length(bin((count(*) - 1) // {BUCKET_TARGET_ROWS}))
       END AS buckets
FROM {tbl}
HAVING count(*) > 0""")
    return "\nUNION ALL ".join(arms)


BUCKET_PLAN_ORACLE = _bucket_plan_oracle()

# --------------------------------------------------------------------------
# Clustering-depth audit (zone-range overlap per candidate sort column)
# --------------------------------------------------------------------------

DEPTH_FILE_ROWS = 1000  # synthetic file = contiguous o_orderkey range


@query()
def clustering_depth_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(sort_col, n_files, sum_depth, avg_depth, max_depth): for each
    candidate sort column, the zone-range OVERLAP DEPTH of the
    current physical layout — files are synthesized as contiguous
    o_orderkey blocks (the insertion layout), each file gets its
    [min, max] zone for the candidate column, and a file's depth is
    how many files' zones overlap its own (>= 1, itself). Average
    depth IS the expected number of files a point lookup on that
    column must open under zone-map pruning: the metric warehouses
    call clustering depth, and the number that decides whether a
    re-sort/Z-order on that column pays for itself (depth ~ 1 =
    already clustered — o_orderkey reads ~1 by construction, the
    audit's built-in control; depth ~ n_files = random layout).
    Complements ``zone_map_skip_audit`` (skip rate for ONE predicate
    set) by measuring the layout itself, predicate-free.

    Exactness: zones and depths are exact integers; depth_f =
    #{g: g.min <= f.max} - #{g: g.max < f.min}, each count read off
    a cumulative window over the boundary-event stream (min-events
    tie-sort BEFORE queries for the inclusive <=, queries BEFORE
    max-events for the strict <) — the session_concurrency sweep-line
    idiom. The oracle computes the same depths through the naive
    overlap join (different construction, same answer — a stronger
    cross-check than mirroring the sweep).

    Scale: ONE partial-aggregatable rollup to the
    |candidates| x |files| zone frame; the sweep windows sort
    2*|files| events per candidate (|files| = rows/1000 — bounded
    metadata scale, the same single-partition-window budget as the
    day-spine audits; production would range-partition the sweep)."""
    orders = tables.table(spark, sf_dir, "orders")
    cands = orders.select(
        F.expr(f"o_orderkey div {DEPTH_FILE_ROWS}").cast("bigint")
        .alias("file_id"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_orderkey").alias("sort_col"),
                    F.col("o_orderkey").cast("bigint").alias("val"),
                ),
                F.struct(
                    F.lit("o_custkey").alias("sort_col"),
                    F.col("o_custkey").cast("bigint").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderdate_day").alias("sort_col"),
                    F.datediff(
                        F.to_date("o_orderdate"),
                        F.lit("1970-01-01").cast("date"),
                    ).cast("bigint").alias("val"),
                ),
                F.struct(
                    F.lit("o_totalprice_cents").alias("sort_col"),
                    F.floor(F.col("o_totalprice") * 100).cast("bigint")
                    .alias("val"),
                ),
            )
        ).alias("c"),
    ).select("file_id", "c.sort_col", "c.val")
    zones = cands.groupBy("sort_col", "file_id").agg(
        F.min("val").alias("vmin"), F.max("val").alias("vmax")
    )
    # started(f) = #{g: g.vmin <= f.vmax}: min-events sort before
    # queries at equal v (tag 0 < 1)
    ev_started = zones.select(
        "sort_col", F.col("vmin").alias("v"), F.lit(0).alias("tag"),
        F.lit(None).cast("bigint").alias("file_id"),
    ).unionByName(
        zones.select(
            "sort_col", F.col("vmax").alias("v"), F.lit(1).alias("tag"),
            "file_id",
        )
    )
    w_st = (
        Window.partitionBy("sort_col")
        .orderBy("v", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    started = (
        ev_started.withColumn(
            "n_started",
            F.sum((F.col("tag") == 0).cast("int")).over(w_st),
        )
        .filter(F.col("tag") == 1)
        .select("sort_col", "file_id", "n_started")
    )
    # ended_before(f) = #{g: g.vmax < f.vmin}: queries sort before
    # max-events at equal v (strict <)
    ev_ended = zones.select(
        "sort_col", F.col("vmax").alias("v"), F.lit(1).alias("tag"),
        F.lit(None).cast("bigint").alias("file_id"),
    ).unionByName(
        zones.select(
            "sort_col", F.col("vmin").alias("v"), F.lit(0).alias("tag"),
            "file_id",
        )
    )
    w_en = (
        Window.partitionBy("sort_col")
        .orderBy("v", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ended = (
        ev_ended.withColumn(
            "n_ended",
            F.sum((F.col("tag") == 1).cast("int")).over(w_en),
        )
        .filter(F.col("tag") == 0)
        .select("sort_col", "file_id", "n_ended")
    )
    depths = started.join(ended, ["sort_col", "file_id"]).select(
        "sort_col",
        "file_id",
        (F.col("n_started") - F.col("n_ended")).cast("bigint")
        .alias("depth"),
    )
    return depths.groupBy("sort_col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("depth").cast("bigint").alias("sum_depth"),
        (
            F.sum("depth").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_depth"),
        F.max("depth").cast("bigint").alias("max_depth"),
    )


CLUSTERING_DEPTH_AUDIT_ORACLE = f"""
WITH cands AS (
  SELECT o_orderkey // {DEPTH_FILE_ROWS} AS file_id, c.sort_col,
         CAST(c.val AS BIGINT) AS val
  FROM orders,
  LATERAL (
    SELECT unnest([
      {{'sort_col': 'o_orderkey', 'val': o_orderkey}},
      {{'sort_col': 'o_custkey', 'val': o_custkey}},
      {{'sort_col': 'o_orderdate_day',
        'val': date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE))}},
      {{'sort_col': 'o_totalprice_cents',
        'val': CAST(floor(o_totalprice * 100) AS BIGINT)}}
    ], recursive := true)
  ) c(sort_col, val)
),
zones AS (
  SELECT sort_col, file_id, min(val) AS vmin, max(val) AS vmax
  FROM cands GROUP BY 1, 2
),
depths AS (
  SELECT f.sort_col, f.file_id, CAST(count(*) AS BIGINT) AS depth
  FROM zones f JOIN zones g
    ON g.sort_col = f.sort_col
   AND g.vmin <= f.vmax AND g.vmax >= f.vmin
  GROUP BY 1, 2
)
SELECT sort_col,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(depth) AS BIGINT) AS sum_depth,
       CAST(sum(depth) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_depth,
       CAST(max(depth) AS BIGINT) AS max_depth
FROM depths GROUP BY 1
"""

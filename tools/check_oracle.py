"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and order-insensitive values (exact after canonical
string rendering, floats rounded to 9 significant digits).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import tempfile
import time

# The package of the checkout this file sits in: perfbench loads it by
# path from each exported checkout, which must not import another one.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _canon(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, decimal.Decimal):
        # Match the driver's canonicalizer, which renders Decimal
        # through the same 9-significant-digit float path as DOUBLE
        # (r06 lesson: str(Decimal) here let ivm_join_revenue pass
        # locally while the driver red-flagged it — the stand-in must
        # fail where the driver fails). Registered queries should not
        # emit DECIMAL at all (schema guard in
        # tests/test_registry_window.py); this keeps the comparator
        # honest if one slips through.
        return f"{float(v):.9g}"
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\t".join(_canon(r[i]) for i in order) for r in rows)


def main() -> int:
    import duckdb

    from _kafka_streams_scaffold_spark import pinning, session, tables
    import __spark_entry__ as e

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # no console progress bar: it has no trailing newline, so with
    # stdout and stderr in one file it would share a line with a verdict
    spark = session.build_session(
        "check-oracle", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )

    def _make_view(c, sf, t):
        # Mirror the Spark-side load-time quarantine (tables.quarantine)
        # so a dataset containing a malformed vector diverges in NEITHER
        # engine instead of in every embeddings-backed oracle check.
        if t == "embeddings":
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet' "
                f"WHERE embedding IS NOT NULL "
                f"AND len(embedding) = {tables.EMBED_DIM}"
            )
        else:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    def _fresh_connection(sf):
        # Give DuckDB a high (but bounded) memory ceiling and a spill
        # path. The heavy graph/list oracles (knn_triangles' multi-way
        # join, bpe_encode's list folds) include operators that cannot
        # fully spill, so a LOW limit trades transient-OOM-under-Spark-
        # pressure for deterministic-OOM-at-the-cap — 80GB leaves the
        # 8GB driver JVM + Python comfortable headroom on a 125GB box
        # while still preventing a runaway allocation from taking the
        # machine down.
        c = duckdb.connect()
        c.execute("SET memory_limit='80GB'")
        c.execute(f"SET temp_directory='{tempfile.mkdtemp(prefix='duck-spill-')}'")
        for t in tables.TABLE_NAMES:
            _make_view(c, sf, t)
        return c

    con = _fresh_connection(sf_dir)

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # Release the previous query's pins BEFORE running (covers the
        # error/rows-only continue paths too): at 100+ queries the
        # accumulated storage makes late queries 5-7x slower (bench.py).
        pinning.unpersist_all()
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spark_rows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            try:
                rel = con.execute(oracles[name])
            except Exception as ex:  # noqa: BLE001
                if "Out of Memory" not in str(ex):
                    raise
                # Transient buffer-pool pressure (concurrent JVM /
                # accumulated session state): retry once on a FRESH
                # connection before declaring failure.
                con = _fresh_connection(sf_dir)
                rel = con.execute(oracles[name])
            duck_cols = [d[0] for d in rel.description]
            duck_rows = rel.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures += 1
            continue
        problems = []
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rows {len(spark_rows)} vs {len(duck_rows)}")
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"cols {sorted(spark_cols)} vs {sorted(duck_cols)}")
        if not problems:
            s, d = _rowset(spark_cols, spark_rows), _rowset(duck_cols, duck_rows)
            if s != d:
                diff = next(
                    (f"spark={a!r} duck={b!r}" for a, b in zip(s, d) if a != b),
                    "row multiset differs",
                )
                problems.append(f"values differ; first: {diff}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"OK    {name}: {len(spark_rows)} rows [{time.time()-t0:.1f}s]")
    pinning.unpersist_all()
    print(f"\n{failures} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

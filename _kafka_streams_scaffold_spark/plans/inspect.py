"""Physical-plan assertions used by tests and scale audits.

These parse ``df.explain("formatted")`` output — the same thing a
human checks by eye — so regressions in pushdown/broadcast/pruning
fail tests instead of silently costing a full scan at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


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


def tree(df: DataFrame) -> str:
    """Just the numbered plan tree (formatted explain repeats every
    node header in the details section — counting on the full string
    double-counts). A pin renders as a ``Scan ExistingRDD`` leaf: its
    build plan is audited where the pin is built."""
    return explain_str(df).split("\n\n", 1)[0]

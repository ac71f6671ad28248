"""Spark's generated-class cache holds a batch pass's working set.

The cache is JVM-wide and least-recently-used. At Spark's default of
100 entries, a pass over these 9 queries (about 144 classes at
sf0.001) evicted every class before its next use, so each warm pass
ran janino again on all of them. ``session.build_session`` sizes the
cache so that a repeated pass compiles nothing."""

from __future__ import annotations

import __spark_entry__ as entrymod
from _kafka_streams_scaffold_spark import pinning

# perfbench's ``batch`` workload: eight sub-second tail queries plus pq_codes
BATCH = [
    "contamination",
    "value_percentiles",
    "gopher_quality",
    "mixture_sample",
    "pricing_summary",
    "revenue_grouping_sets",
    "top_value_parts",
    "pareto_orders",
    "pq_codes",
]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark, sf_dir) -> int:
    qs = entrymod.queries()
    before = _compiles(spark)
    for name in BATCH:
        with pinning.scope():
            qs[name](spark, sf_dir).collect()
    return _compiles(spark) - before


def test_warm_batch_pass_compiles_no_class(spark, sf_dir):
    _pass(spark, sf_dir)
    _pass(spark, sf_dir)
    # Now and then (2 of 44 warm passes in a probe) pareto_orders numbers
    # its codegen stages in another order, because AQE numbers them as
    # concurrent stages finish, and compiles 4 classes under new names;
    # so up to three tries. At Spark's default size every pass compiles
    # about 144.
    compiles = []
    while len(compiles) < 3 and 0 not in compiles:
        compiles.append(_pass(spark, sf_dir))
    assert 0 in compiles

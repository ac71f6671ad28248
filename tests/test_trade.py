"""Trade-shape tests: golden semantics on crafted frames plus the
physical-plan properties (dimension pruning before the fact-fact
join, broadcast only of tiny sides, top-k without a global sort)."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import Row

from _kafka_streams_scaffold_spark import plans
from _kafka_streams_scaffold_spark.operators import trade


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _patch_tables(monkeypatch, frames):
    monkeypatch.setattr(trade.tables, "table", lambda spark_, sf, name: frames[name])


def test_volume_shipping_golden(spark, monkeypatch):
    nation = spark.createDataFrame(
        [Row(n_nationkey=k, n_name=f"NATION_{k}") for k in (1, 2, 3)]
    )
    supp = spark.createDataFrame(
        [Row(s_suppkey=i, s_nationkey=i) for i in (1, 2, 3)]
    )
    cust = spark.createDataFrame(
        [Row(c_custkey=i, c_nationkey=i) for i in (1, 2, 3)]
    )
    orders = spark.createDataFrame(
        [Row(o_orderkey=10 + i, o_custkey=i) for i in (1, 2, 3)]
    )
    li = spark.createDataFrame(
        [
            # supp 1 -> cust 2 (A->B): counted
            Row(l_orderkey=12, l_suppkey=1, l_extendedprice=100.0,
                l_discount=0.0, l_shipdate=_ts("1996-03-01")),
            # supp 2 -> cust 1 (B->A): counted
            Row(l_orderkey=11, l_suppkey=2, l_extendedprice=50.0,
                l_discount=0.0, l_shipdate=_ts("1996-06-01")),
            # supp 1 -> cust 1 (A->A): not cross-nation
            Row(l_orderkey=11, l_suppkey=1, l_extendedprice=999.0,
                l_discount=0.0, l_shipdate=_ts("1996-01-01")),
            # supp 3 involved: nation 3 plays no role
            Row(l_orderkey=12, l_suppkey=3, l_extendedprice=999.0,
                l_discount=0.0, l_shipdate=_ts("1996-01-01")),
        ]
    )
    _patch_tables(
        monkeypatch,
        {"lineitem": li, "orders": orders, "customer": cust,
         "supplier": supp, "nation": nation},
    )
    got = {
        (r["supp_nation"], r["cust_nation"], r["l_year"]): r["revenue"]
        for r in trade.volume_shipping_query(spark, "_").collect()
    }
    assert got == {
        ("NATION_1", "NATION_2", 1996): 100.0,
        ("NATION_2", "NATION_1", 1996): 50.0,
    }


def test_market_share_golden(spark, monkeypatch):
    region = spark.createDataFrame(
        [Row(r_regionkey=0, r_name="EUROPE"), Row(r_regionkey=1, r_name="ASIA")]
    )
    nation = spark.createDataFrame(
        [
            Row(n_nationkey=8, n_name="NATION_8", n_regionkey=0),
            Row(n_nationkey=9, n_name="NATION_9", n_regionkey=0),
            Row(n_nationkey=2, n_name="NATION_2", n_regionkey=1),
        ]
    )
    part = spark.createDataFrame(
        [Row(p_partkey=1, p_type="ECONOMY"), Row(p_partkey=2, p_type="LARGE")]
    )
    supp = spark.createDataFrame(
        [Row(s_suppkey=1, s_nationkey=8), Row(s_suppkey=2, s_nationkey=9)]
    )
    cust = spark.createDataFrame(
        [Row(c_custkey=1, c_nationkey=9), Row(c_custkey=2, c_nationkey=2)]
    )
    orders = spark.createDataFrame(
        [
            Row(o_orderkey=10, o_custkey=1, o_orderdate=_ts("1996-05-01")),
            Row(o_orderkey=11, o_custkey=2, o_orderdate=_ts("1996-05-01")),
        ]
    )
    li = spark.createDataFrame(
        [
            # ECONOMY part, european customer, NATION_8 supplier: numerator
            Row(l_orderkey=10, l_partkey=1, l_suppkey=1,
                l_extendedprice=30.0, l_discount=0.0),
            # same but NATION_9 supplier: denominator only
            Row(l_orderkey=10, l_partkey=1, l_suppkey=2,
                l_extendedprice=70.0, l_discount=0.0),
            # non-European customer: excluded entirely
            Row(l_orderkey=11, l_partkey=1, l_suppkey=1,
                l_extendedprice=999.0, l_discount=0.0),
            # non-ECONOMY part: excluded
            Row(l_orderkey=10, l_partkey=2, l_suppkey=1,
                l_extendedprice=999.0, l_discount=0.0),
        ]
    )
    _patch_tables(
        monkeypatch,
        {"lineitem": li, "orders": orders, "customer": cust, "supplier": supp,
         "nation": nation, "region": region, "part": part},
    )
    [row] = trade.market_share_query(spark, "_").collect()
    assert row["o_year"] == 1996
    assert row["mkt_share"] == pytest.approx(0.3)


def test_late_order_priority_golden(spark, monkeypatch):
    orders = spark.createDataFrame(
        [
            Row(o_orderkey=1, o_orderdate=_ts("1996-01-01"), o_orderpriority="1-URGENT"),
            Row(o_orderkey=2, o_orderdate=_ts("1996-01-01"), o_orderpriority="5-LOW"),
            Row(o_orderkey=3, o_orderdate=_ts("1996-01-01"), o_orderpriority="5-LOW"),
        ]
    )
    li = spark.createDataFrame(
        [
            # order 1: shipped 100 days later -> late
            Row(l_orderkey=1, l_shipdate=_ts("1996-04-10")),
            # order 2: exactly +90 days -> NOT late (strict >)
            Row(l_orderkey=2, l_shipdate=_ts("1996-03-31")),
            # order 3: one on-time and one late line -> late (EXISTS)
            Row(l_orderkey=3, l_shipdate=_ts("1996-01-05")),
            Row(l_orderkey=3, l_shipdate=_ts("1996-07-01")),
        ]
    )
    _patch_tables(monkeypatch, {"lineitem": li, "orders": orders})
    got = {
        r["o_orderpriority"]: r["order_count"]
        for r in trade.late_order_priority_query(spark, "_").collect()
    }
    assert got == {"1-URGENT": 1, "5-LOW": 1}


def test_large_volume_customers_golden(spark, monkeypatch):
    li = spark.createDataFrame(
        [
            Row(l_orderkey=1, l_quantity=200.0),
            Row(l_orderkey=1, l_quantity=150.0),  # total 350 > 300
            Row(l_orderkey=2, l_quantity=300.0),  # exactly 300 -> excluded
        ]
    )
    orders = spark.createDataFrame(
        [
            Row(o_orderkey=1, o_custkey=7, o_orderdate=_ts("1996-01-01"),
                o_totalprice=1000.0),
            Row(o_orderkey=2, o_custkey=8, o_orderdate=_ts("1996-01-01"),
                o_totalprice=2000.0),
        ]
    )
    cust = spark.createDataFrame(
        [Row(c_custkey=7, c_name="c7"), Row(c_custkey=8, c_name="c8")]
    )
    _patch_tables(monkeypatch, {"lineitem": li, "orders": orders, "customer": cust})
    got = [
        (r["c_custkey"], r["o_orderkey"], r["total_qty"])
        for r in trade.large_volume_customers_query(spark, "_").collect()
    ]
    assert got == [(7, 1, 350.0)]


def test_supplier_part_variety_distinct_and_exclusions(spark, monkeypatch):
    part = spark.createDataFrame(
        [
            Row(p_partkey=1, p_brand="Brand#1", p_type="SMALL", p_size=5),
            Row(p_partkey=2, p_brand="Brand#21", p_type="SMALL", p_size=5),
        ]
    )
    supp = spark.createDataFrame(
        [
            Row(s_suppkey=1, s_acctbal=10.0),
            Row(s_suppkey=2, s_acctbal=-5.0),  # flagged -> excluded
        ]
    )
    li = spark.createDataFrame(
        [
            Row(l_partkey=1, l_suppkey=1),
            Row(l_partkey=1, l_suppkey=1),  # duplicate pair -> counted once
            Row(l_partkey=1, l_suppkey=2),  # flagged supplier
            Row(l_partkey=2, l_suppkey=1),  # excluded brand
        ]
    )
    _patch_tables(monkeypatch, {"lineitem": li, "part": part, "supplier": supp})
    got = [
        (r["p_brand"], r["p_type"], r["p_size"], r["supplier_cnt"])
        for r in trade.supplier_part_variety_query(spark, "_").collect()
    ]
    assert got == [("Brand#1", "SMALL", 5, 1)]


# -- physical-plan contracts ------------------------------------------------


def test_returned_items_topk_plan(spark, sf_dir):
    df = trade.returned_items_top_customers_query(spark, sf_dir)
    explained = plans.explain_str(df)
    # top-k must be a streaming TakeOrderedAndProject, not a full sort
    assert "TakeOrderedAndProject" in explained
    # the returnflag filter reaches the lineitem scan
    assert any("l_returnflag" in f for f in plans.pushed_filters(df))


def test_product_profit_plan(spark, sf_dir):
    df = trade.product_profit_query(spark, sf_dir)
    # LIKE filter pushed to the part scan; both dims broadcast
    assert any("p_name" in f for f in plans.pushed_filters(df))
    assert plans.has_broadcast_join(df)


def test_volume_shipping_plan_prunes_dims_before_fact_join(spark, sf_dir):
    df = trade.volume_shipping_query(spark, sf_dir)
    # the two-nation filter reaches the nation scan (pre-join pruning)
    assert any("n_name" in f for f in plans.pushed_filters(df))
    assert plans.has_broadcast_join(df)


def test_min_cost_supplier_golden(spark, monkeypatch):
    region = spark.createDataFrame([Row(r_regionkey=1, r_name="EUROPE")])
    nation = spark.createDataFrame(
        [Row(n_nationkey=1, n_regionkey=1, n_name="NATION_1")]
    )
    supp = spark.createDataFrame(
        [
            Row(s_suppkey=1, s_nationkey=1, s_name="s1", s_acctbal=10.0),
            Row(s_suppkey=2, s_nationkey=1, s_name="s2", s_acctbal=99.0),
        ]
    )
    part = spark.createDataFrame(
        [
            Row(p_partkey=7, p_type="STANDARD", p_size=5),
            Row(p_partkey=8, p_type="PROMO", p_size=5),  # wrong type: excluded
        ]
    )
    li = spark.createDataFrame(
        [
            # part 7: supp 1 sells at 50, supp 2 at 60 -> supp 1 wins
            Row(l_partkey=7, l_suppkey=1, l_extendedprice=50.0),
            Row(l_partkey=7, l_suppkey=1, l_extendedprice=70.0),
            Row(l_partkey=7, l_suppkey=2, l_extendedprice=60.0),
            # excluded part: would have been cheaper
            Row(l_partkey=8, l_suppkey=2, l_extendedprice=1.0),
        ]
    )
    _patch_tables(
        monkeypatch,
        {"lineitem": li, "supplier": supp, "nation": nation,
         "region": region, "part": part},
    )
    rows = trade.min_cost_supplier_query(spark, "_").collect()
    assert [(r["p_partkey"], r["s_suppkey"], r["cost"]) for r in rows] == [
        (7, 1, 50.0)
    ]


def test_min_cost_supplier_ties_keep_all_winners(spark, monkeypatch):
    region = spark.createDataFrame([Row(r_regionkey=1, r_name="EUROPE")])
    nation = spark.createDataFrame(
        [Row(n_nationkey=1, n_regionkey=1, n_name="NATION_1")]
    )
    supp = spark.createDataFrame(
        [
            Row(s_suppkey=1, s_nationkey=1, s_name="s1", s_acctbal=10.0),
            Row(s_suppkey=2, s_nationkey=1, s_name="s2", s_acctbal=99.0),
        ]
    )
    part = spark.createDataFrame([Row(p_partkey=7, p_type="STANDARD", p_size=5)])
    li = spark.createDataFrame(
        [
            Row(l_partkey=7, l_suppkey=1, l_extendedprice=50.0),
            Row(l_partkey=7, l_suppkey=2, l_extendedprice=50.0),
        ]
    )
    _patch_tables(
        monkeypatch,
        {"lineitem": li, "supplier": supp, "nation": nation,
         "region": region, "part": part},
    )
    rows = trade.min_cost_supplier_query(spark, "_").collect()
    # both suppliers tie at the minimum; acctbal DESC puts supp 2 first
    assert [(r["s_suppkey"], r["cost"]) for r in rows] == [(2, 50.0), (1, 50.0)]


def test_important_part_values_threshold(spark, monkeypatch):
    nation = spark.createDataFrame([Row(n_nationkey=8, n_name="NATION_8")])
    supp = spark.createDataFrame([Row(s_suppkey=1, s_nationkey=8)])
    # 501 parts at value 1 each: each is exactly 1/501 of the total,
    # BELOW the 1/500 cutoff -> empty. Then one heavy part dominates.
    li = spark.createDataFrame(
        [Row(l_partkey=k, l_suppkey=1, l_extendedprice=1.0) for k in range(501)]
    )
    _patch_tables(monkeypatch, {"lineitem": li, "supplier": supp, "nation": nation})
    assert trade.important_part_values_query(spark, "_").count() == 0

    li2 = spark.createDataFrame(
        [Row(l_partkey=k, l_suppkey=1, l_extendedprice=1.0) for k in range(100)]
        + [Row(l_partkey=999, l_suppkey=1, l_extendedprice=900.0)]
    )
    _patch_tables(monkeypatch, {"lineitem": li2, "supplier": supp, "nation": nation})
    rows = trade.important_part_values_query(spark, "_").collect()
    assert [(r["p_partkey"], r["part_value"]) for r in rows] == [(999, 900.0)]


def test_shipping_speed_priority_buckets(spark, monkeypatch):
    orders = spark.createDataFrame(
        [
            Row(o_orderkey=1, o_orderdate=_ts("1995-01-01"),
                o_orderpriority="1-URGENT"),
            Row(o_orderkey=2, o_orderdate=_ts("1995-01-01"),
                o_orderpriority="5-LOW"),
        ]
    )
    li = spark.createDataFrame(
        [
            # 59 days: FAST; 60 days: SLOW (boundary is >= 60)
            Row(l_orderkey=1, l_shipdate=_ts("1995-03-01")),  # 59 -> FAST, high
            Row(l_orderkey=1, l_shipdate=_ts("1995-03-02")),  # 60 -> SLOW, high
            Row(l_orderkey=2, l_shipdate=_ts("1995-03-02")),  # 60 -> SLOW, low
        ]
    )
    _patch_tables(monkeypatch, {"lineitem": li, "orders": orders})
    got = {
        r["ship_speed"]: (r["high_line_count"], r["low_line_count"])
        for r in trade.shipping_speed_priority_query(spark, "_").collect()
    }
    assert got == {"FAST": (1, 0), "SLOW": (1, 1)}


def test_min_cost_supplier_plan(spark, sf_dir, pin_builds):
    # the part scan lives inside the pinned offers table's build plan
    # (the consumer reads the pin's leaf), and the pushdown being
    # asserted happens in that build
    df = trade.min_cost_supplier_query(spark, sf_dir)
    explained = plans.explain_str(df)
    # top-100, never a full sort
    assert "TakeOrderedAndProject" in explained
    # type+size filters reach the part scan
    pushed = re.findall(
        r"PushedFilters: \[([^\]]*)\]",
        "\n".join([explained, *pin_builds.explains]),
    )
    assert any("p_type" in f for f in pushed)


def test_shipping_speed_priority_plan_pushes_year(spark, sf_dir):
    df = trade.shipping_speed_priority_query(spark, sf_dir)
    assert any("l_shipdate" in f for f in plans.pushed_filters(df))

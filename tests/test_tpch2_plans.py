"""Plan pins for the DataFrame-built TPC-H queries (operators/tpch.py).

Each test asserts the scale property the docstring claims — explicit
broadcasts survive with auto-broadcast OFF (modelling dims too big
for AQE's size guess but known-small relative to the fact), filters
reach the scans, top-k plans as TakeOrderedAndProject, and the
q21 orderkey pipeline introduces no nested-loop join anywhere.
"""

from __future__ import annotations

import re

from open_reaction_database_web_scraper_spark.registry import (
    REGISTRY,
    load_all_operators,
)

load_all_operators()


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _no_autobroadcast(spark):
    class Ctx:
        def __enter__(self):
            self.old = spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def __exit__(self, *exc):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           self.old)
    return Ctx()


def test_q2_part_filter_broadcasts_before_agg(spark, sf_dir):
    """The size/type part filter must reach the part scan AND the
    filtered part side must broadcast into lineitem BEFORE the
    per-(part, supplier) aggregate — pinned with auto-broadcast off
    so the explicit hint (not AQE luck) carries the plan."""
    with _no_autobroadcast(spark):
        plan = plan_of(spark, sf_dir, "sql_tpch_q2")
    assert "EqualTo(p_type,PROMO)" in plan
    assert "LessThanOrEqual(p_size,10)" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q4_semi_join_with_nonequi_conjunct(spark, sf_dir):
    """EXISTS compiles to a LeftSemi whose non-equi lateness test
    rides the equi-join (no post-join dedup aggregate on orders)."""
    plan = plan_of(spark, sf_dir, "sql_tpch_q4")
    assert "LeftSemi" in plan
    # quarter slice pushed to the orders scan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual"
                     r"\(o_orderdate", plan), plan


def test_q8_dims_broadcast_with_hint(spark, sf_dir):
    """nation/region/part-filter broadcasts are explicit hints, so
    they must survive auto-broadcast off; the fact-fact joins
    (orders, customer) may shuffle."""
    with _no_autobroadcast(spark):
        plan = plan_of(spark, sf_dir, "sql_tpch_q8")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 3, plan
    assert "EqualTo(p_type,STANDARD)" in plan
    assert "EqualTo(r_name,ASIA)" in plan


def test_q13_left_outer_preserves_zero_customers(spark, sf_dir):
    """The priority exclusion must sit join-side: the plan keeps the
    LEFT OUTER join (a WHERE would have degraded it to inner and
    silently dropped zero-order customers)."""
    plan = plan_of(spark, sf_dir, "sql_tpch_q13")
    assert "LeftOuter" in plan
    assert re.search(r"Not\(EqualTo\(o_orderpriority,1-URGENT\)\)",
                     plan), plan


def test_q16_anti_join_broadcasts(spark, sf_dir):
    with _no_autobroadcast(spark):
        plan = plan_of(spark, sf_dir, "sql_tpch_q16")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "LessThan(s_acctbal,0.0)" in plan


def test_q19_or_predicate_prunes_part_scan(spark, sf_dir):
    """The part-side implication of the OR must reach the part scan
    as pushed filters (brand/size boxes), not only post-join."""
    plan = plan_of(spark, sf_dir, "sql_tpch_q19")
    m = re.search(r"PushedFilters: \[([^\]]*Brand[^\]]*)\]", plan)
    assert m, plan


def test_q21_no_nested_loop_and_single_key_chain(spark, sf_dir):
    """The orderkey-keyed stats/back-join/sole-survivor chain must
    stay hash-based end to end; TakeOrderedAndProject caps the
    top-100 without a global sort."""
    with _no_autobroadcast(spark):
        plan = plan_of(spark, sf_dir, "sql_tpch_q21")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q9_dim_broadcasts_and_tiny_group(spark, sf_dir):
    """part-filter and supplier-nation decode are explicit broadcast
    hints (must survive auto-broadcast off); the (nation, year)
    group-by is map-side combined — two HashAggregates around one
    exchange."""
    with _no_autobroadcast(spark):
        plan = plan_of(spark, sf_dir, "sql_tpch_q9")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 2, plan
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan
    assert "CartesianProduct" not in plan


def test_q12_year_slice_pushes_and_lateness_rides_join(spark, sf_dir):
    """The 1997 order-year slice must reach the orders scan as pushed
    filters, and the >60-day lateness conjunct must evaluate inside
    the orderkey equi-join (join condition, not a separate pass)."""
    plan = plan_of(spark, sf_dir, "sql_tpch_q12")
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual"
                     r"\(o_orderdate", plan), plan
    # the join node itself carries the non-equi lateness residual
    assert re.search(r"Join[^\n]*l_shipdate[^\n]*", plan), plan
    assert "CartesianProduct" not in plan


def test_q17_avg_table_broadcasts_back(spark, sf_dir):
    """The per-part average re-join is an explicit broadcast (the
    correlated-scalar rewrite stays a broadcast probe even with
    auto-broadcast off), and the brand filter reaches the part
    scan."""
    with _no_autobroadcast(spark):
        plan = plan_of(spark, sf_dir, "sql_tpch_q17")
    assert "EqualTo(p_brand,Brand#23)" in plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 2, plan
    assert "CartesianProduct" not in plan


def test_q20_semi_join_and_pushed_date_slice(spark, sf_dir):
    """The IN-subquery compiles to a LeftSemi; the 1996 ship-date
    slice reaches the lineitem scan; the hot-part prefix filter
    broadcasts into the fact."""
    with _no_autobroadcast(spark):
        plan = plan_of(spark, sf_dir, "sql_tpch_q20")
    assert "LeftSemi" in plan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual"
                     r"\(l_shipdate", plan), plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scalar_gates_are_single_row_broadcasts(spark, sf_dir):
    """q11/q15/q22's scalar subqueries must appear as broadcast
    nested-loop joins of a ONE-ROW aggregate (the allow-listed
    scalar-subquery shape) — never a shuffled cross product."""
    for name in ("sql_tpch_q11", "sql_tpch_q15", "sql_tpch_q22"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert ("BroadcastNestedLoopJoin" in plan
                or "BroadcastHashJoin" in plan), (name, plan)

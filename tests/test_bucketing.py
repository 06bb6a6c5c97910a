"""Bucketed co-located joins: the write pays one shuffle, every later
join on the bucket key runs with ZERO Exchange and ZERO Sort — the
defining scale optimization for repeated fact-fact joins (SURVEY §4
join strategy / io/bucketing.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from radares_spark.io.bucketing import write_bucketed
from radares_spark.io.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("bucketed")
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_bucketed(li, "li_b", str(d / "li"), ["l_orderkey"], 4)
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "orders_b",
        str(d / "orders"),
        ["l_orderkey"],
        4,
    )
    return li, orders


def test_colocated_join_has_no_exchange_or_sort(spark, bucketed):
    # force the sort-merge path (tiny test tables would broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    # sorted-bucket-scan ordering is opt-in since Spark 3.0 (SPARK-28595);
    # safe here because write_bucketed guarantees one file per bucket
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        joined = spark.table("li_b").join(spark.table("orders_b"), ["l_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, "bucketing must eliminate the shuffle"
        assert "Sort " not in plan, "sortBy must eliminate the per-task sort"
        # bucketed scans announce themselves
        assert "SelectedBucketsCount: 4 out of 4" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")


def test_colocated_join_matches_plain_join(spark, bucketed):
    li, orders = bucketed
    expect = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("s")
    ).collect()[0]
    got = spark.table("li_b").join(spark.table("orders_b"), ["l_orderkey"]).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("s")
    ).collect()[0]
    assert (got["n"], got["s"]) == (expect["n"], expect["s"])

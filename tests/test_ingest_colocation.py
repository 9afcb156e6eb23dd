"""Bucketed writes + the colocation contract: bucketed dist-col joins and
aggregations must produce NO shuffle exchange (the Spark realization of
the reference's co-located pushdown join / group-by-dist-col pushdown,
SURVEY.md §2.3-2.4)."""

import os

import pytest
from pyspark.sql import functions as F

from citus_spark.sources.ingest import n_exchanges, write_distributed
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    # bucketed tables land in spark-warehouse; isolate per test run
    return tmp_path_factory.mktemp("wh")


def test_colocated_join_has_no_exchange(spark):
    """Two tables bucketed on the join key ⇒ join plan has zero
    shuffle exchanges (EnsureRequirements satisfied by bucketing)."""
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    write_distributed(orders, "t_orders_b", "o_orderkey", buckets=8)
    write_distributed(lineitem, "t_lineitem_b", "l_orderkey", buckets=8)
    j = spark.table("t_orders_b").join(
        spark.table("t_lineitem_b"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    # dist-col group-by stacked on the co-located join also reuses the
    # bucketing (join output keeps the hash partitioning on the key)
    g = j.groupBy("o_orderkey").agg(F.count("*").alias("n"))
    # disable broadcast so the test exercises the bucketed path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert n_exchanges(j) == 0, j._jdf.queryExecution().executedPlan().toString()
        assert n_exchanges(g) == 0, g._jdf.queryExecution().executedPlan().toString()
        assert j.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_noncolocated_join_shuffles(spark):
    """Sanity check of the metric: the same join over raw (unbucketed)
    parquet DOES shuffle."""
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        assert n_exchanges(j) >= 2
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_groupby_dist_col_no_exchange_on_bucketed(spark):
    """GROUP BY the distribution column on a bucketed table needs no
    shuffle (↔ reference full pushdown, README.md:947-957)."""
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    write_distributed(orders, "t_orders_b2", "o_orderkey", buckets=8)
    g = spark.table("t_orders_b2").groupBy("o_orderkey").agg(
        F.sum("o_totalprice").alias("s")
    )
    assert n_exchanges(g) == 0
    assert g.count() > 0


def test_reference_table_join_broadcasts(spark):
    """Reference tables must join via BroadcastHashJoin (↔
    REFERENCE_JOIN, multi_join_order.h:33)."""
    from citus_spark.session import DistributedSession

    sess = DistributedSession(spark)
    sess.load_tables(SF_SMALL)
    j = sess.table("lineitem").join(
        sess.table("part"), F.col("l_partkey") == F.col("p_partkey")
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

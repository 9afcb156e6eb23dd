"""HLL sketch: accuracy, key types, determinism."""

import pytest
from pyspark.sql import functions as F

from citus_spark.operators.hll import approx_ndv
from tests.conftest import SF_SMALL


def test_accuracy_vs_exact(spark):
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    got = {
        r.l_returnflag: r.approx_ndv
        for r in approx_ndv(li, ["l_returnflag"], "l_partkey").collect()
    }
    want = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    for k in want:
        assert abs(got[k] - want[k]) / want[k] < 0.08, (k, got[k], want[k])


def test_bigint_group_key(spark):
    """Non-string group columns must keep their real type through the
    Arrow state/output schemas (group DDL derived from df.schema)."""
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").filter(
        "l_orderkey < 200"
    )
    out = approx_ndv(li, ["l_orderkey"], "l_partkey")
    assert dict(out.dtypes)["l_orderkey"] == "bigint"
    got = {r.l_orderkey: r.approx_ndv for r in out.collect()}
    want = {
        r.l_orderkey: r.n
        for r in li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    # tiny groups sit in the exact small-range regime
    assert all(abs(got[k] - want[k]) < 1 for k in want)


def test_quantile_sketch_int_group_key(spark):
    from citus_spark.operators.quantile_sketch import approx_quantiles

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    out = approx_quantiles(
        li, ["l_linenumber"], "l_extendedprice", "l_orderkey", (0.5,)
    )
    assert dict(out.dtypes)["l_linenumber"] == "int"
    rows = out.collect()
    assert rows and all(r.p50 is not None for r in rows)


def test_deterministic_across_runs(spark):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    a = {r.event_type: r.approx_ndv for r in approx_ndv(ev, ["event_type"], "user_id").collect()}
    b = {r.event_type: r.approx_ndv for r in approx_ndv(ev, ["event_type"], "user_id").collect()}
    assert a == b

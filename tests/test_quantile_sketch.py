"""Mergeable bottom-k quantile sketch: accuracy, determinism."""

from pyspark.sql import functions as F

from citus_spark.operators.quantile_sketch import approx_quantiles
from tests.conftest import SF_SMALL


def test_accuracy_vs_exact(spark):
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    got = {
        r.o_orderpriority: (r.p50, r.p90)
        for r in approx_quantiles(
            o, ["o_orderpriority"], "o_totalprice", "o_orderkey"
        ).collect()
    }
    want = {
        r.o_orderpriority: (r.p50, r.p90)
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        )
        .collect()
    }
    for k in want:
        for a, b in zip(got[k], want[k]):
            assert abs(a - b) / b < 0.10, (k, got[k], want[k])


def test_deterministic(spark):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    a = approx_quantiles(ev, ["event_type"], "value", "event_id").collect()
    b = approx_quantiles(ev, ["event_type"], "value", "event_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

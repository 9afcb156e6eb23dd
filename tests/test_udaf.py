"""Generic distributed UDAF (partial/combine/final split)."""

import pytest
from pyspark.sql import functions as F

from citus_spark.operators.udaf import distributed_agg, median_spec
from tests.conftest import SF_SMALL


def test_median_matches_percentile(spark):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    src = ev.select("event_type", F.col("value").alias("v"))
    spec = median_spec(["event_type"], "v")
    got = {
        r.event_type: r.median
        for r in distributed_agg(src, ["event_type"], spec).collect()
    }
    want = {
        r.event_type: r.m
        for r in src.groupBy("event_type")
        .agg(F.expr("percentile(v, 0.5)").alias("m"))
        .collect()
    }
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9)


def test_partial_runs_per_partition(spark):
    """The state stream must contain one state row per (partition,
    group) — i.e. the partial stage really is map-side."""
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").repartition(4)
    src = ev.select("event_type", F.col("value").alias("v"))
    spec = median_spec(["event_type"], "v")

    def partial_batches(it):
        for pdf in it:
            if len(pdf):
                yield pdf.groupby(["event_type"], as_index=False, sort=False).apply(
                    spec.partial, include_groups=True
                ).reset_index(drop=True)

    states = src.mapInPandas(partial_batches, schema=spec.state_schema)
    n_states = states.count()
    n_groups = src.select("event_type").distinct().count()
    assert n_groups <= n_states <= 4 * n_groups

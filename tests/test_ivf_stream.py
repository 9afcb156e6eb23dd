"""Streaming IVF index maintenance (streaming/ivf_stream.py):
batch ≡ streamed under any chopping, assignments agree with the
batch ivf entry, and the index layout is genuinely partition-pruned."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def _cents(spark):
    from citus_spark.streaming.ivf_stream import fixed_centroids

    return fixed_centroids(spark, SF_SMALL)


def test_stream_equals_batch_assignment(spark, emb, tmp_path):
    from citus_spark.streaming.ivf_stream import (
        apply_ivf_batch,
        assign_cells,
        read_index,
    )

    cents = _cents(spark)
    # one-shot batch index
    batch_path = str(tmp_path / "idx_batch")
    apply_ivf_batch(spark, emb, cents, batch_path)
    # same data chopped into 3 arbitrary micro-batches
    stream_path = str(tmp_path / "idx_stream")
    for w in range(3):
        apply_ivf_batch(
            spark, emb.filter(F.col("vec_id") % 3 == w), cents, stream_path
        )
    a = {
        (r.vec_id, r.centroid_id)
        for r in read_index(spark, batch_path).collect()
    }
    b = {
        (r.vec_id, r.centroid_id)
        for r in read_index(spark, stream_path).collect()
    }
    assert a == b and len(a) == emb.count()
    # assignments equal the batch operator's row-for-row
    direct = {
        (r.vec_id, r.centroid_id)
        for r in assign_cells(emb, cents).collect()
    }
    assert direct == a


def test_index_is_partition_pruned(spark, emb, tmp_path):
    from citus_spark.streaming.ivf_stream import (
        apply_ivf_batch,
        read_index,
    )

    cents = _cents(spark)
    path = str(tmp_path / "idx")
    apply_ivf_batch(spark, emb, cents, path)
    # physical layout: one directory per cell
    cells = [d for d in os.listdir(path) if d.startswith("centroid_id=")]
    assert len(cells) >= 2
    # a single-cell filter prunes at the source: the scan node carries
    # a PartitionFilters entry on centroid_id (the plan-gate idiom
    # from tests/test_plan_quality.py) — not a post-scan Filter
    one = read_index(spark, path).filter("centroid_id = 0")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters", 1)[1][:200]


def test_stream_assignment_matches_batch_ivf_entry(spark, emb, tmp_path):
    """Cross-module contract: the streamed index's per-cell counts
    equal the batch ivf_assign oracle entry's — the two paths share
    the fold, the tiebreak, and (by import) the centroid count."""
    from citus_spark.queries.similarity import ivf_assign
    from citus_spark.streaming.ivf_stream import (
        apply_ivf_batch,
        read_index,
    )

    cents = _cents(spark)
    path = str(tmp_path / "idx")
    apply_ivf_batch(spark, emb, cents, path)
    stream_counts = {
        r.centroid_id: r["count"]
        for r in read_index(spark, path).groupBy("centroid_id").count()
        .collect()
    }
    batch_counts = {
        r.centroid_id: r.n_vectors
        for r in ivf_assign(spark, SF_SMALL).collect()
    }
    assert stream_counts == batch_counts

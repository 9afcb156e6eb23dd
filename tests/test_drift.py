"""Embedding distribution-shift moments (operators/drift.py)."""

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture()
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def test_drift_partitioning_invariance(spark, emb):
    from citus_spark.operators.drift import _moment_sums

    def sums(df):
        n, s1, s2 = _moment_sums(df, "embedding")
        return n, s1.tolist(), s2.tolist()

    a = emb.filter("vec_id % 2 = 0")
    assert sums(a.repartition(1)) == sums(a.repartition(32))  # int sums are order-free


def test_drift_empty_slice_rejected(spark, emb):
    from citus_spark.operators.drift import _moment_sums

    with pytest.raises(ValueError, match="empty"):
        _moment_sums(emb.filter("vec_id < 0"), "embedding")

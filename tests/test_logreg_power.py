"""Deterministic logistic regression + Gram power iteration
(operators/logreg.py, operators/power_iteration.py) — r8-prep
components with full pytest evidence: partitioning invariance
(bit-exact) and independent single-node re-derivation."""

import numpy as np
import pytest

from tests.conftest import SF_SMALL


@pytest.fixture()
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def _labeled(spark, emb):
    # learnable synthetic label: sign of the first coordinate
    from pyspark.sql import functions as F

    return emb.select(
        F.col("embedding").alias("x"),
        (F.element_at("embedding", 1) > 0).cast("int").alias("y"),
    )


def test_logreg_matches_single_node_exactly(spark, emb):
    from citus_spark.operators.logreg import (
        train_logreg,
        train_logreg_reference,
    )

    df = _labeled(spark, emb)
    w = train_logreg(df, "x", "y", n_iter=3)
    rows = [
        ([float(v) for v in r["x"]], float(r["y"]))
        for r in df.collect()
    ]
    w_ref = train_logreg_reference(rows, n_iter=3)
    # the quantized recurrence is IDENTICAL, so equality is bit-exact
    assert w == w_ref


def test_logreg_partitioning_invariance(spark, emb):
    from citus_spark.operators.logreg import train_logreg

    df = _labeled(spark, emb)
    w1 = train_logreg(df.repartition(1), "x", "y", n_iter=2)
    w32 = train_logreg(df.repartition(32), "x", "y", n_iter=2)
    wshuf = train_logreg(
        df.orderBy("y").repartition(7), "x", "y", n_iter=2
    )
    assert w1 == w32 == wshuf


def test_power_iteration_matches_numpy(spark, emb):
    from citus_spark.operators.power_iteration import (
        distributed_gram,
        top_principal_direction,
    )

    # the fixture Gram's eigengap is small (~1.07x), so the
    # 0.93^k convergence needs a few hundred driver-side 64x64 steps
    v, rayleigh = top_principal_direction(emb, "embedding", n_iter=500)
    G = distributed_gram(emb, "embedding").astype(np.float64)
    # numpy's exact top eigenpair of the SAME Gram matrix
    evals, evecs = np.linalg.eigh(G)
    top = evecs[:, -1]
    if top[np.nonzero(top)[0][0]] < 0:
        top = -top
    assert np.abs(np.array(v) - top).max() < 1e-6
    assert abs(rayleigh - evals[-1]) / evals[-1] < 1e-6


def test_power_iteration_partitioning_invariance(spark, emb):
    from citus_spark.operators.power_iteration import (
        top_principal_direction,
    )

    v1, r1 = top_principal_direction(
        emb.repartition(1), "embedding", n_iter=30
    )
    v32, r32 = top_principal_direction(
        emb.repartition(32), "embedding", n_iter=30
    )
    assert v1 == v32 and r1 == r32  # bit-exact: Gram is int64-exact

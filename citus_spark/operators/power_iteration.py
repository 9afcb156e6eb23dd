"""Top principal direction of an embedding corpus via power iteration
over the distributed Gram matrix — the whitening / anisotropy-removal
step of an embedding pipeline (all-but-the-top post-processing).

↔ reference scope: users run PCA-ish passes with madlib over
distributed tables; the reference supplies the distributed matrix
aggregation. Spark-first mapping: the ONLY distributed work is the
d×d Gram matrix G = Σ x xᵀ, accumulated as int64 fixed-point partials
per Arrow batch (the same order-free idiom as
queries/similarity.embedding_gram_matrix — quantize per element,
int64-sum, partition-proof). d is the embedding dimension, so G is
tiny; the power iteration itself is driver-side float64 on a d×d
matrix — bounded control-plane math, like a k-means centroid update.

Determinism contract: G is bit-exact under any partitioning, the
iteration starts from the deterministic e₀ basis vector, and every
step is the same float64 sequence on the same G — so the returned
eigenvector is bit-identical across runs and layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# per-coordinate quantum before the outer product — the SAME quantum
# queries/similarity.embedding_gram_matrix uses (its overflow-capacity
# analysis applies: unit-scale coords quantize to ~2^21, squares to
# ~2^42, leaving 2^21 rows of headroom per partial before int64 risk)
from citus_spark.queries.similarity import _GRAM_SCALE as GRAM_SCALE


def distributed_gram(df: DataFrame, vec_col: str):
    """d×d int64 Gram matrix of quantized vectors (numpy array)."""
    import numpy as np
    import pandas as pd

    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("distributed_gram: empty input")
    d = len(first[0])

    def kernel(batches):
        for pdf in batches:
            M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if M.size == 0:
                continue
            Q = np.floor(M * GRAM_SCALE + 0.5).astype(np.int64)
            # int64 outer-product partial for this batch — exact, and
            # the downstream SUM of exact ints is order-free
            G = Q.T @ Q  # (d, d) int64
            idx = np.arange(d * d, dtype=np.int64)
            yield pd.DataFrame({"i": idx, "v": G.ravel()})

    parts = df.select(vec_col).mapInPandas(kernel, schema="i long, v long")
    rows = parts.groupBy("i").sum("v").collect()
    G = np.zeros(d * d, dtype=np.int64)
    for r in rows:
        G[r["i"]] = r["sum(v)"]
    return G.reshape(d, d)


def top_principal_direction(
    df: DataFrame, vec_col: str, n_iter: int = 50
):
    """→ (eigenvector list[float] with deterministic sign, rayleigh
    quotient float). One distributed pass; the iteration is driver-
    side on the d×d Gram."""
    import numpy as np

    G = distributed_gram(df, vec_col).astype(np.float64)
    d = G.shape[0]
    v = np.zeros(d, dtype=np.float64)
    v[0] = 1.0
    for _ in range(n_iter):
        nv = G @ v
        norm = float(np.sqrt((nv * nv).sum()))
        if norm == 0.0:
            break
        v = nv / norm
    # deterministic sign: first nonzero coordinate positive
    for x in v:
        if x != 0.0:
            if x < 0.0:
                v = -v
            break
    rayleigh = float(v @ G @ v)
    return [float(x) for x in v], rayleigh

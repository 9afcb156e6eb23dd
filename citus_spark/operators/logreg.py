"""Deterministic distributed logistic regression — the quality-
classifier training step of a data pipeline (fastText-style filters:
label a small seed set, fit a linear model over cheap features, score
the whole corpus).

↔ reference scope: Citus users run this exact loop with
`madlib.logregr_train` over distributed tables; the reference's role
is the distributed aggregation underneath. Spark-first mapping: each
gradient-descent step is ONE distributed aggregation (map-side
partial gradients, executor-local), nothing else leaves the workers.

Determinism contract (the property the tests pin): per-row gradient
contributions are computed in float64 but accumulated as FIXED-POINT
int64 (× 2^20, floor(x+0.5) rounding), so the sum is independent of
partitioning and row order — the same idiom the DSUM oracles use.
Every run on every layout yields bit-identical weights, which also
makes the operator oracle-able (an independent engine can re-derive
the exact weights by replaying the same quantized recurrence).

At 100 TB: d+1 int64 partials per feature per partition; the driver
holds only the (d+1)-vector between steps. No per-row Python — the
per-row math runs in an Arrow-batched mapInPandas kernel (NumPy GEMV
per batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SCALE = 1 << 20  # fixed-point gradient quantum


def train_logreg(
    features_df: DataFrame,
    feature_col: str,
    label_col: str,
    n_iter: int = 5,
    lr: float = 0.5,
) -> list[float]:
    """Fit w (bias last) by `n_iter` full-batch GD steps.

    features_df: (array<float|double> features, int/bool label).
    Returns the weight vector as plain floats. Weights after every
    step are a deterministic function of the data MULTISET only.
    """
    import numpy as np
    import pandas as pd

    first = features_df.select(feature_col).first()
    if first is None:
        raise ValueError("train_logreg: empty input")
    d = len(first[0])
    n = features_df.count()
    w = np.zeros(d + 1, dtype=np.float64)

    spark = features_df.sparkSession
    src = features_df.select(
        features_df[feature_col].alias("x"),
        features_df[label_col].cast("double").alias("y"),
    )

    for _ in range(n_iter):
        w_b = spark.sparkContext.broadcast(w.copy())

        def grad_kernel(batches):
            for pdf in batches:
                X = np.array(pdf["x"].tolist(), dtype=np.float64)
                if X.size == 0:
                    continue
                Xb = np.hstack([X, np.ones((len(X), 1))])
                y = pdf["y"].to_numpy(dtype=np.float64)
                z = Xb @ w_b.value
                p = 1.0 / (1.0 + np.exp(-z))
                # quantize PER ROW, then sum int64: floor(sum) would
                # depend on how rows batch/partition; sum(floor) is
                # order-free — the determinism contract
                contrib = Xb * (p - y)[:, None]  # (rows, d+1)
                q = (
                    np.floor(contrib * SCALE + 0.5)
                    .astype(np.int64)
                    .sum(axis=0)
                )
                yield pd.DataFrame(
                    {"i": np.arange(d + 1, dtype=np.int64), "g": q}
                )

        parts = src.mapInPandas(grad_kernel, schema="i long, g long")
        rows = parts.groupBy("i").sum("g").collect()
        g_int = np.zeros(d + 1, dtype=np.int64)
        for r in rows:
            g_int[r["i"]] = r["sum(g)"]
        w = w - lr * (g_int.astype(np.float64) / SCALE) / n
        w_b.unpersist()
    return [float(v) for v in w]


def train_logreg_reference(
    rows: list[tuple[list[float], float]],
    n_iter: int = 5,
    lr: float = 0.5,
) -> list[float]:
    """Single-node replay of the EXACT quantized recurrence — the
    independent re-derivation tests (and a future DuckDB oracle)
    compare against. Bit-identical to train_logreg by construction:
    the only cross-row reduction is the int64 sum of quantized
    per-row gradients, which commutes."""
    import numpy as np

    X = np.array([r[0] for r in rows], dtype=np.float64)
    y = np.array([r[1] for r in rows], dtype=np.float64)
    n, d = X.shape
    Xb = np.hstack([X, np.ones((n, 1))])
    w = np.zeros(d + 1, dtype=np.float64)
    for _ in range(n_iter):
        z = Xb @ w
        p = 1.0 / (1.0 + np.exp(-z))
        # per-ROW quantization, the same unit the distributed kernel
        # uses — quantizing any coarser unit (a batch's GEMV partial)
        # would make the result depend on how rows batch/partition
        g_int = np.zeros(d + 1, dtype=np.int64)
        for i in range(n):
            contrib = Xb[i] * (p[i] - y[i])
            g_int += np.floor(contrib * SCALE + 0.5).astype(np.int64)
        w = w - lr * (g_int.astype(np.float64) / SCALE) / n
    return [float(v) for v in w]

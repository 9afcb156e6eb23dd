"""Embedding distribution-shift detection — compare two corpus
slices (yesterday vs today, source A vs source B) by their embedding
statistics: mean-vector shift and per-coordinate variance ratio. The
monitoring pass a production embedding pipeline runs before trusting
a new batch (encoder regressions and upstream content shifts show up
as mean drift long before downstream metrics move).

Spark-first mapping: ONE distributed aggregation per slice — int64
fixed-point sums of quantized coordinates and their squares (the
order-free idiom shared with logreg/power-iteration/gram), so every
statistic is bit-identical under any partitioning and re-derivable by
an independent engine (r8 oracle candidate: DuckDB replays the same
quantized sums).

The registry entry `embedding_drift_moments` (queries/mlops.py)
reports those exact sums per slice; mean shift and variance ratios
derive from them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SCALE = 1 << 10  # per-coordinate quantum (sums of squares stay small)


def _moment_sums(df: DataFrame, vec_col: str):
    """→ (n, s1[int64 d], s2[int64 d]): count and quantized coordinate
    sums / sums of squares — one Arrow-batched pass."""
    import numpy as np
    import pandas as pd

    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("drift: empty slice")
    d = len(first[0])

    def kernel(batches):
        for pdf in batches:
            M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if M.size == 0:
                continue
            Q = np.floor(M * SCALE + 0.5).astype(np.int64)
            idx = np.arange(d, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "i": idx,
                    "n": np.full(d, len(Q), dtype=np.int64),
                    "s1": Q.sum(axis=0),
                    "s2": (Q * Q).sum(axis=0),
                }
            )

    parts = df.select(vec_col).mapInPandas(
        kernel, schema="i long, n long, s1 long, s2 long"
    )
    rows = parts.groupBy("i").sum("n", "s1", "s2").collect()
    import numpy as np

    n = 0
    s1 = np.zeros(d, dtype=np.int64)
    s2 = np.zeros(d, dtype=np.int64)
    for r in rows:
        n = max(n, r["sum(n)"])
        s1[r["i"]] = r["sum(s1)"]
        s2[r["i"]] = r["sum(s2)"]
    return n, s1, s2

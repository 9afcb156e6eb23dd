"""Re-aggregatable quantile sketch — deterministic bottom-k (KMV)
sample.

↔ reference tdigest extension (planner/tdigest_extension.c): rollup
tables store tdigest VALUES re-aggregated at query time. Here the
mergeable state is the bottom-k sample by a portable hash of
(value, row id): hash-ordering makes the sample uniform-random yet
fully deterministic, and merging two sketches is merge + truncate —
associative, idempotent on overlap, re-run-stable (no rand()).

The same state doubles as a KMV distinct-count estimator; we expose
quantiles (the tdigest use case). Accuracy: standard sample-quantile
error ~ O(1/sqrt(k)) at every quantile — uniform, so weak at extreme
tails. For tail-accurate re-aggregatable quantiles (p99/p999) use
operators/tdigest.py, whose k1 scale function concentrates resolution
at the tails at a fraction of this state size; this KMV form remains
useful where the same state must ALSO answer distinct-count.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citus_spark.functions import hash64
from citus_spark.operators.udaf import AggSpec, distributed_agg, group_ddl

K = 2048  # sample size per group


def _truncate(hashes: np.ndarray, values: np.ndarray) -> tuple[list, list]:
    order = np.argsort(hashes, kind="stable")[:K]
    return hashes[order].tolist(), values[order].tolist()


def quantile_sketch_spec(
    group_cols: Sequence[str],
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
    gddl: str | None = None,
) -> AggSpec:
    """`gddl`: group-column DDL (from ``group_ddl(df, cols)``) so
    non-string keys keep their real type; defaults to all-string."""
    g = list(group_cols)
    gddl = gddl or ", ".join(f"{c} string" for c in g)
    qs = list(quantiles)

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.iloc[:1][g].copy()
        h, v = _truncate(
            pdf["h"].to_numpy(np.int64), pdf["v"].to_numpy(np.float64)
        )
        out["hs"] = [h]
        out["vs"] = [v]
        return out

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.iloc[:1][g].copy()
        h = np.concatenate([np.asarray(x, np.int64) for x in pdf["hs"]])
        v = np.concatenate([np.asarray(x, np.float64) for x in pdf["vs"]])
        # overlap-safe: duplicates (same hash) collapse via unique
        h, idx = np.unique(h, return_index=True)
        v = v[idx]
        hh, vv = _truncate(h, v)
        out["hs"] = [hh]
        out["vs"] = [vv]
        return out

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        for q in qs:
            pdf[f"p{int(q*100)}"] = pdf["vs"].map(
                lambda v, q=q: float(np.quantile(np.asarray(v, np.float64), q))
                if len(v)
                else None
            )
        return pdf[g + [f"p{int(q*100)}" for q in qs]]

    return AggSpec(
        partial=partial,
        combine=combine,
        final=final,
        state_schema=f"{gddl}, hs array<long>, vs array<double>",
        output_schema=f"{gddl}, " + ", ".join(f"p{int(q*100)} double" for q in qs),
    )


def _hashed(df: DataFrame, group_cols: Sequence[str], value_col: str, id_col: str):
    return df.select(
        *group_cols,
        hash64(F.concat_ws(":", F.col(value_col), F.col(id_col))).alias("h"),
        F.col(value_col).cast("double").alias("v"),
    )


def approx_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    id_col: str,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """One-shot grouped quantiles via the sketch path."""
    g = list(group_cols)
    return distributed_agg(
        _hashed(df, g, value_col, id_col),
        g,
        quantile_sketch_spec(g, quantiles, gddl=group_ddl(df, g)),
    )

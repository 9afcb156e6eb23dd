"""Re-aggregatable HyperLogLog sketch columns.

↔ reference hll extension: rollup tables store `hll` VALUES that are
re-aggregated later (worker hll_add_agg → coordinator hll_union_agg,
multi_logical_optimizer.c:1711-1760). Spark's approx_count_distinct
answers one query; this module expresses the sketch on the
distributed_agg (partial/combine/final) framework, with a register
array as the mergeable state and register-wise max as the merge.

Standard HLL with 2^p registers, hash = the engine's portable 60-bit
md5 hash (citus_spark.functions.hash64) computed JVM-side before the
pandas kernels, so sketches are deterministic and engine-portable.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citus_spark.functions import hash64
from citus_spark.operators.udaf import AggSpec, distributed_agg, group_ddl

P = 11  # 2^11 registers → rsd ≈ 1.04/sqrt(2048) ≈ 2.3%
M = 1 << P


def _alpha(m: int) -> float:
    return 0.7213 / (1.0 + 1.079 / m)


def _add_hashes(reg: np.ndarray, hashes: np.ndarray) -> None:
    idx = (hashes & (M - 1)).astype(np.int64)
    w = hashes >> P  # 49 remaining bits of the 60-bit hash
    # rank = leading-zero count within the 49-bit window + 1
    ranks = (49 - np.floor(np.log2(np.where(w == 0, 1, w))).astype(np.int64)).clip(
        1, 50
    )
    ranks = np.where(w == 0, 50, ranks)
    np.maximum.at(reg, idx, ranks)


def _estimate(reg: np.ndarray) -> float:
    est = _alpha(M) * M * M / np.sum(np.exp2(-reg.astype(np.float64)))
    zeros = int(np.sum(reg == 0))
    if est <= 2.5 * M and zeros:
        est = M * np.log(M / zeros)  # small-range correction
    return float(est)


def hll_spec(group_cols: Sequence[str], gddl: str | None = None) -> AggSpec:
    """`gddl`: group-column DDL (from ``group_ddl(df, cols)``) so
    non-string keys keep their real type through the Arrow schemas;
    defaults to all-string."""
    g = list(group_cols)
    gddl = gddl or ", ".join(f"{c} string" for c in g)

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.iloc[:1][g].copy()
        reg = np.zeros(M, dtype=np.int64)
        _add_hashes(reg, pdf["h"].to_numpy(dtype=np.int64))
        out["registers"] = [reg.tolist()]
        return out

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.iloc[:1][g].copy()
        reg = np.zeros(M, dtype=np.int64)
        for r in pdf["registers"]:
            reg = np.maximum(reg, np.asarray(r, dtype=np.int64))
        out["registers"] = [reg.tolist()]
        return out

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["approx_ndv"] = pdf["registers"].map(
            lambda r: _estimate(np.asarray(r, dtype=np.int64))
        )
        return pdf[g + ["approx_ndv"]]

    return AggSpec(
        partial=partial,
        combine=combine,
        final=final,
        state_schema=f"{gddl}, registers array<long>",
        output_schema=f"{gddl}, approx_ndv double",
    )


def approx_ndv(df: DataFrame, group_cols: Sequence[str], value_col) -> DataFrame:
    """One-shot grouped approximate NDV via the sketch path."""
    hashed = df.select(
        *group_cols, hash64(F.col(value_col).cast("string")).alias("h")
    )
    return distributed_agg(
        hashed, group_cols, hll_spec(group_cols, group_ddl(df, group_cols))
    )

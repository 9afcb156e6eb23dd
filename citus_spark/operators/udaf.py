"""Generic distributed custom aggregates.

↔ reference generic UDAF distribution (README.md:971-979): the worker
runs the aggregate's transition function via `worker_partial_agg`,
the coordinator merges states via `coord_combine_agg` + finalfunc.
Spark's contract is identical — partial state per partition, shuffle
states by group, merge, finalize — and this module expresses it with
Arrow-batched pandas kernels:

    distributed_agg(df, group_cols, spec)

where spec supplies three plain-Python/pandas functions:
    partial(pdf)  -> state row(s) per group within one partition
    combine(pdf)  -> merged state per group across partitions
    final(pdf)    -> output columns from merged state

Only `partial` sees raw rows; `combine`/`final` see only states, so
the shuffle volume is O(groups × state size), not O(rows) — the same
property the reference's split guarantees.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame


def group_ddl(df: DataFrame, group_cols: Sequence[str]) -> str:
    """Derive the DDL fragment for the group columns from the input
    DataFrame's actual schema (``"user_id bigint, lang string"``).

    Spec builders need the group columns' types in their Arrow
    state/output schemas; hardcoding ``string`` would fail or miscoerce
    non-string keys (bigint user_id, int l_orderkey) at the
    pandas→Arrow boundary."""
    dt = dict(df.dtypes)
    missing = [c for c in group_cols if c not in dt]
    if missing:
        raise ValueError(f"group columns {missing} not in {df.columns}")
    return ", ".join(f"{c} {dt[c]}" for c in group_cols)


@dataclass
class AggSpec:
    """A distributed aggregate: schemas are Spark DDL strings for the
    state and output relations (both must include the group columns)."""

    partial: Callable[[pd.DataFrame], pd.DataFrame]
    combine: Callable[[pd.DataFrame], pd.DataFrame]
    final: Callable[[pd.DataFrame], pd.DataFrame]
    state_schema: str
    output_schema: str


def distributed_agg(
    df: DataFrame, group_cols: Sequence[str], spec: AggSpec
) -> DataFrame:
    """Run a custom aggregate with the partial/combine/final split."""
    group_cols = list(group_cols)

    def partial_batches(it):
        for pdf in it:
            if len(pdf):
                yield pdf.groupby(group_cols, as_index=False, sort=False).apply(
                    spec.partial, include_groups=True
                ).reset_index(drop=True)

    # worker_partial_agg: per-partition states (no shuffle yet)
    states = df.mapInPandas(partial_batches, schema=spec.state_schema)

    # coord_combine_agg + final: one shuffle on the group key
    def combine_and_final(pdf: pd.DataFrame) -> pd.DataFrame:
        return spec.final(spec.combine(pdf))

    return states.groupBy(*group_cols).applyInPandas(
        combine_and_final, schema=spec.output_schema
    )


# Exact median — a *holistic* aggregate (state = all values). The
# reference would pull rows to the coordinator for such aggregates
# (AGGREGATE_CUSTOM_ROW_GATHER); here the state is the per-partition
# sorted value list and combine merges lists — still distributed, with
# state size O(rows in group) as is inherent to exact medians.
def median_spec(
    group_cols: Sequence[str], value_col: str, gddl: str | None = None
) -> AggSpec:
    g = list(group_cols)
    gddl = gddl or ", ".join(f"{c} string" for c in g)

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.iloc[:1][g].copy()
        out["vals"] = [sorted(pdf[value_col].tolist())]
        return out

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.iloc[:1][g].copy()
        merged: list[float] = []
        for v in pdf["vals"]:
            merged.extend(v)
        merged.sort()
        out["vals"] = [merged]
        return out

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()

        def med(vals):
            n = len(vals)
            if n == 0:
                return None
            mid = n // 2
            return float(vals[mid]) if n % 2 else (vals[mid - 1] + vals[mid]) / 2.0

        pdf["median"] = pdf["vals"].map(med)
        return pdf[g + ["median"]]

    return AggSpec(
        partial=partial,
        combine=combine,
        final=final,
        state_schema=f"{gddl}, vals array<double>",
        output_schema=f"{gddl}, median double",
    )

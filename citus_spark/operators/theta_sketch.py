"""Theta/KMV distinct sketch — mergeable distinct-count states with
set-expression estimates (union / intersection), all JVM-side.

↔ reference hll extension (the engine's hll.py covers plain NDV
rollups); theta sketches add what HLL cannot: *intersection* and
general set-expression estimates over pre-aggregated states — the
"how many users did BOTH" question over rollup tables.

State: the k smallest DISTINCT portable-hash values of the keyed
column (bottom-k / KMV). Deterministic by construction (hash order,
no rand()), so states are re-run-stable, merge is
merge-distinct-truncate (associative, idempotent on overlap), and a
DuckDB oracle can recompute the state bit-for-bit.

Estimators (h normalized by the 60-bit hash range H):
  NDV(A)    = exact |state| when |state| < k, else (k-1) · H / h_k
  A ∩ B     : θ = min(θ_A, θ_B); est = |{x ∈ A∩B : x < θ}| · H / θ

Scale shape: the state build is distinct (shuffle on group+hash,
map-side partial) followed by a bottom-k window over the same key —
the second pass reuses the first's partitioning, and per-group state
is bounded by k everywhere (no collect_set blowup on hot groups).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from citus_spark.functions import hash64

H_BITS = 60  # hash64 yields 15 hex chars = 60 bits
H_RANGE = float(1 << H_BITS)
DEFAULT_K = 256


def theta_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    k: int = DEFAULT_K,
) -> DataFrame:
    """(group_cols..., sketch array<bigint>) — bottom-k distinct
    hashes of `key_col` per group, ascending."""
    g = list(group_cols)
    hashed = df.select(
        *g, hash64(F.col(key_col).cast("string")).alias("_h")
    ).distinct()
    w = Window.partitionBy(*g).orderBy("_h")
    topk = hashed.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    return topk.groupBy(*g).agg(
        F.sort_array(F.collect_list("_h")).alias("sketch")
    )


def theta_ndv(sketch: Column, k: int = DEFAULT_K) -> Column:
    """Distinct-count estimate from a state (exact below k)."""
    n = F.size(sketch)
    h_k = F.element_at(sketch, k).cast("double")
    return F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(H_RANGE) / h_k
    )


def theta_intersect_ndv(
    sketch_a: Column, sketch_b: Column, k: int = DEFAULT_K
) -> Column:
    """|A ∩ B| estimate from two states."""
    # θ per side: the full hash range when the state is exact (< k)
    theta_a = F.when(
        F.size(sketch_a) < k, F.lit(H_RANGE)
    ).otherwise(F.element_at(sketch_a, k).cast("double"))
    theta_b = F.when(
        F.size(sketch_b) < k, F.lit(H_RANGE)
    ).otherwise(F.element_at(sketch_b, k).cast("double"))
    theta = F.least(theta_a, theta_b)
    common = F.size(
        F.filter(
            F.array_intersect(sketch_a, sketch_b),
            lambda h: h.cast("double") < theta,
        )
    )
    return common.cast("double") * F.lit(H_RANGE) / theta

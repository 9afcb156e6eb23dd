"""Bloom filter columns — mergeable set-membership states, all
JVM-side.

↔ the reference's semi-join reduction machinery (Spark's runtime
bloom-filter injection covers the PLANNER side — see
tests/test_plan_quality bloom gate). This operator is the DATA side:
a persistable, re-aggregatable bloom STATE per group, the pattern
hll.py/theta_sketch.py establish for distinct counts — "does this
key maybe belong to that group's set" from a rollup table, without
the raw data. Classic use: a per-day bloom of active users lets a
100 TB backfill skip days that cannot contain a key (no false
negatives; false-positive rate set by m/k vs set size).

State: the sorted array of DISTINCT set bit positions (sparse bitset
over m bits, k seeded portable hashes per key — hash64 of 'i:key').
Deterministic under any partitioning; a DuckDB oracle re-derives the
state bit-for-bit. Merge = array_union (bitwise OR), associative and
idempotent. Membership = forall k positions present.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from citus_spark.functions import hash64

DEFAULT_BITS = 2048
DEFAULT_HASHES = 4


def _positions(key: Column, bits: int, hashes: int) -> Column:
    return F.array(*[
        F.pmod(
            hash64(F.concat(F.lit(f"{i}:"), key.cast("string"))),
            F.lit(bits),
        )
        for i in range(hashes)
    ])


def bloom_build(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    bits: int = DEFAULT_BITS,
    hashes: int = DEFAULT_HASHES,
) -> DataFrame:
    """(group_cols..., bloom array<bigint>) — sorted distinct set-bit
    positions per group."""
    g = list(group_cols)
    pos = df.select(
        *g,
        F.explode(
            _positions(F.col(key_col), bits, hashes)
        ).alias("_p"),
    ).distinct()
    return pos.groupBy(*g).agg(
        F.sort_array(F.collect_set("_p")).alias("bloom")
    )


def bloom_maybe_contains(
    bloom: Column,
    key: Column,
    bits: int = DEFAULT_BITS,
    hashes: int = DEFAULT_HASHES,
) -> Column:
    """TRUE = maybe in the set; FALSE = definitely not."""
    return F.forall(
        _positions(key, bits, hashes),
        lambda p: F.array_contains(bloom, p),
    )

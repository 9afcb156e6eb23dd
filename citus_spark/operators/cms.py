"""Count-min sketch — mergeable frequency-estimate states, all
JVM-side.

↔ reference topn extension (topn.c keeps exact heavy-hitter counts;
the engine's topn.py covers that). A CMS answers the question TopN
cannot: a frequency ESTIMATE for ANY key — including keys that never
entered a top list — from a bounded state, with the one-sided
guarantee est ≥ true (overestimates only, by collision mass).

State: d hash rows × w counters, kept SPARSE as a sorted array of
(pos, cnt) structs (pos = row·w + bucket; zero counters omitted).
Hashing is the engine's portable 60-bit md5 hash seeded per row
(hash64 of 'i:key'), so the state is deterministic under any
partitioning and a DuckDB oracle re-derives it bit-for-bit.

Build shape: explode d seed rows per input row (d is 4-8), one
groupBy (map-side partial) on (group, pos), then a bounded per-group
collect — state size ≤ d·w entries regardless of input rows. Merge
of two states is element-wise sum by pos (union of sparse entries) —
associative and commutative, so rollups compose.

Estimate(key) = min over the d rows of the key's counter (absent
counter = 0).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from citus_spark.functions import hash64

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 256


def _bucket(key: Column, row: Column, width: int) -> Column:
    seeded = F.concat(row.cast("string"), F.lit(":"), key.cast("string"))
    return F.pmod(hash64(seeded), F.lit(width))


def cms_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """(group_cols..., sketch array<struct<pos:long, cnt:long>>) —
    sparse CMS counters per group, ascending by pos."""
    g = list(group_cols)
    seeded = df.select(
        *g,
        F.col(key_col).cast("string").alias("_k"),
        F.explode(
            F.array(*[F.lit(i) for i in range(depth)])
        ).alias("_i"),
    )
    keyed = seeded.withColumn(
        "_pos",
        (F.col("_i").cast("long") * width
         + _bucket(F.col("_k"), F.col("_i"), width)),
    )
    counts = keyed.groupBy(*g, "_pos").agg(
        F.count("*").cast("long").alias("_cnt")
    )
    return counts.groupBy(*g).agg(
        F.sort_array(
            F.collect_list(F.struct(
                F.col("_pos").alias("pos"), F.col("_cnt").alias("cnt")
            ))
        ).alias("sketch")
    )


def cms_estimate(
    sketch: Column,
    key: Column,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> Column:
    """min over the d rows of the key's counter — the CMS estimate."""
    m = F.map_from_entries(sketch)
    per_row = F.array(*[
        F.coalesce(
            F.element_at(
                m,
                (F.lit(int(i)).cast("long") * width
                 + _bucket(key, F.lit(i), width)),
            ),
            F.lit(0),
        )
        for i in range(depth)
    ])
    return F.array_min(per_row).cast("long")

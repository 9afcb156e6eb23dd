"""Stream-stream interval join — correlate two event streams within a
time bound (view→purchase attribution within 1 hour).

The reference has no streaming operators at all (SURVEY.md §2.9); its
nearest analog is the repartition join between two distributed tables
(src/backend/distributed/multi_join_order.c's dual-partition path).
Structured Streaming generalizes that to unbounded inputs: both sides
shuffle on the join key, and the *watermark + time-range predicate*
bounds how much state each side must retain — the streaming analog of
the partition-pruning window the reference applies to time-sharded
tables.

Scale shape (100 TB/day posture):

- both streams hash-shuffle on user_id — same co-location idea as the
  batch repartition join;
- state per side is bounded by the watermark delay + join interval
  (Spark evicts rows whose event time can no longer match), so state
  size tracks the *rate × window*, not stream history;
- the time-range predicate must reference both sides' event-time
  columns for Spark to derive state-eviction bounds — a correctness
  AND capacity requirement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attribute_purchases(
    views: DataFrame,
    purchases: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """(purchase_id, view_id, user_id, gap_seconds) — every purchase
    joined to every view by the same user within `max_gap` BEFORE it.

    Works on two streaming frames (stream-stream inner join with
    watermarks on both sides) and equally on two batch frames (the
    equivalence test runs both and diffs).
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    if v.isStreaming:
        v = v.withWatermark("v_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("p_ts", watermark)
    joined = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {max_gap}")),
    )
    return joined.select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        (
            F.col("p_ts").cast("double") - F.col("v_ts").cast("double")
        ).alias("gap_seconds"),
    )

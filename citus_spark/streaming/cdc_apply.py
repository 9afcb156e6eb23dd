"""Change-feed APPLY — the consuming side of streaming CDC.

↔ reference cdc_decoder.c (src/backend/distributed/cdc/): the
reference tails each shard's logical WAL, re-maps shard OIDs to the
logical table, and emits ordered change events for downstream
consumers. Spark has no WAL to tail; the engine's producing side is
the snapshot diff (operators/cdc.py). This module is the other half a
real pipeline needs: given a Debezium-shaped change feed

    (op string ∈ insert|update|delete, seq bigint, key..., payload...)

maintain the current-state table incrementally (`apply_changes`, one
call per micro-batch).

Ordering/consistency model (the part worth getting right at scale):

- per-key state is the payload of the MAX-seq change for that key —
  so the apply is a pure function of the change set, independent of
  micro-batch boundaries OR file arrival order (a late-listed file
  with older seqs can never regress a key: the union+argmax keeps the
  newer state row);
- deletes are retained as TOMBSTONES (op='delete' rows with their
  seq) so an out-of-order earlier insert cannot resurrect a deleted
  key; a reader of the current table filters them. Production GC
  would drop tombstones older than the feed's replay horizon;
- each micro-batch apply is ONE shuffle: union(state, batch-latest) →
  per-key argmax by seq. At scale both sides are bucketed by key, so
  the merge is co-located and O(state + delta) per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _latest_per_key(df: DataFrame, keys: list[str]) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(F.desc("seq"))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def parse_debezium(
    df: DataFrame, envelope_col: str, key_fields: str, after_fields: str
) -> DataFrame:
    """Decode Debezium-style JSON change envelopes into the flat
    (op, seq, key..., payload...) shape `apply_changes` consumes.

    ↔ reference cdc_decoder.c's wire contract: each WAL change is
    published as
    `{"op": "c|u|d", "seq": <lsn>, "key": {...}, "after": {...}|null}`
    — `key` mirrors the Kafka message key Debezium emits alongside the
    value envelope (it is the only place a delete names its row;
    Debezium's `before` is not needed for state maintenance and is
    ignored if present). `key_fields` / `after_fields` are DDL
    fragments for the two structs, e.g. ``"user_id BIGINT"`` and
    ``"value_cents BIGINT"`` (payload = non-key columns).

    op codes are normalized to the apply vocabulary: c/u (and r =
    snapshot read) → upsert, d → delete. `after` is null for deletes;
    its fields surface as top-level nullable columns so tombstone rows
    keep the schema. from_json is a JVM expression — the decode stays
    in whole-stage codegen, no Python, and works identically on batch
    and streaming frames.
    """
    schema = (
        f"op STRING, seq BIGINT, key STRUCT<{key_fields}>, "
        f"after STRUCT<{after_fields}>"
    )
    parsed = df.select(
        F.from_json(F.col(envelope_col), schema).alias("_e")
    )
    # malformed lines (truncated writes, stray log output) parse to a
    # NULL struct / NULL op — drop them rather than fabricating an
    # all-NULL-key upsert that would pollute the state table
    parsed = parsed.filter(
        F.col("_e").isNotNull() & F.col("_e.op").isNotNull()
    )
    return parsed.select(
        F.when(F.col("_e.op") == "d", "delete")
        .otherwise("upsert")
        .alias("op"),
        F.col("_e.seq").alias("seq"),
        F.col("_e.key.*"),
        F.col("_e.after.*"),
    )


def apply_changes(
    state: DataFrame | None, changes: DataFrame, keys: list[str]
) -> DataFrame:
    """Pure apply: merge a change set into (possibly empty) state.
    Both inputs carry (keys..., op, seq, payload...); output is the
    new state INCLUDING tombstones."""
    merged = changes if state is None else state.unionByName(changes)
    return _latest_per_key(merged, keys)

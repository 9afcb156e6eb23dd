"""Streaming top-N heavy-hitter rollup — mergeable topn sketch
columns maintained incrementally over an append stream.

↔ the reference's real-time top-N pattern: rollup tables store `topn`
JSONB sketch COLUMNS, ingest does `topn_add_agg` per increment merged
with `topn_union_agg` on conflict, and dashboards call
`topn(topn_union_agg(...), k)` at read time (reference README's
topn rollup section; the topn extension ships with the reference
distribution — operators/topn.py documents the worker/coordinator
split). A plain count rollup answers "events per hour" but not "top
items per hour" incrementally once items outnumber memory — the
stored state must be a mergeable truncated-counts sketch.

Spark mapping: per micro-batch, build per-window topn_map states
(operators/topn.py — the same map<item,count> columns the batch path
stores), merge with the stored states via topn_union, atomically swap
the state table. State size is O(groups × slack·k) regardless of
stream length. Exactness contract: merges keep slack·k entries, so
extraction is EXACT whenever a group's item cardinality stays within
slack·k (the reference sketch has the same capacity-factor contract);
beyond that it degrades to approximate heavy hitters the same way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from citus_spark.operators.topn import topn_extract, topn_map, topn_union

ROLLUP_KEYS = ["window_start"]
K = 3
SLACK = 4


def _batch_states(batch: DataFrame, window: str) -> DataFrame:
    keyed = batch.select(
        F.window("ts", window).start.alias("window_start"),
        "event_type",
    )
    return topn_map(keyed, ROLLUP_KEYS, "event_type", K, slack=SLACK)


def apply_topn_batch(
    spark: SparkSession, batch: DataFrame, state_path: str,
    window: str = "1 hour",
) -> None:
    """One micro-batch step: merge the batch's states into the stored
    state table (the foreachBatch body, callable in batch form). The
    new state materializes fully into a side directory, then swaps in
    via os.rename — a crash mid-step leaves the previous state intact
    (a second parquet overwrite would be delete-then-write, with a
    window where the state table is partially written)."""
    import shutil

    tmp = state_path + ".tmp"
    old = state_path + ".old"
    # crash recovery: dying between the two renames below leaves the
    # only state copy in `.old` — restore it before reading, and only
    # then discard leftovers
    if not os.path.exists(state_path) and os.path.exists(old):
        os.rename(old, state_path)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    states = _batch_states(batch, window)
    if os.path.exists(state_path):
        states = topn_union(
            spark.read.parquet(state_path).unionByName(states),
            ROLLUP_KEYS,
            K,
            slack=SLACK,
        )
    states.write.mode("overwrite").parquet(tmp)
    if os.path.exists(state_path):
        os.rename(state_path, old)
    os.rename(tmp, state_path)
    shutil.rmtree(old, ignore_errors=True)


def read_topn_rollup(spark: SparkSession, state_path: str) -> DataFrame:
    """Finalize stored states → (window_start, item, cnt, rank)."""
    old = state_path + ".old"
    if not os.path.exists(state_path) and os.path.exists(old):
        # a crash between the writer's two renames parked the state
        # in `.old`; read it (the writer restores it on its next step)
        state_path = old
    return topn_extract(spark.read.parquet(state_path), ROLLUP_KEYS, K)

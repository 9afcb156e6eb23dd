"""Query-statistics view — citus_stat_statements analog.

↔ reference stat_statements.c (src/backend/distributed/planner/
../utils/citus_stat_statements): for every executed statement the
reference records (queryid, normalized query, executor used,
partition_key, calls), where partition_key is the distribution-column
literal of router queries — the column that makes per-tenant
resource accounting possible.

Spark analog: `DistributedSession.sql` records each statement here at
plan time. Normalization (literals → ?) and the queryid hash follow
pg_stat_statements' model so repeated calls of the same shape
accumulate under one fingerprint. partition_key comes from the one
pre-plan router detector, plans/router.py (`router_key`), which the
session runs on the statement text before Catalyst plans it: an
equality between a cataloged table's distribution column and a
literal, the test the reference's router planner applies (fast-path
single-shard detection, planner/fast_path_router_planner.c). The
same key routes isolated tenants to their own storage partition. The
executor column mirrors that split: 'router' when a partition key
pins the statement to one shard, else 'adaptive' (the reference's
name for its parallel multi-shard executor).

Driver-memory footprint is one dict entry per query SHAPE (not per
call), the same bound pg_stat_statements accepts; `reset()` is the
citus_stat_statements_reset() analog.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, SparkSession

_STRING_LIT = re.compile(r"'(?:[^']|'')*'")
_NUM_LIT = re.compile(r"\b\d+(?:\.\d+)?\b")
_WS = re.compile(r"\s+")


def normalize_query(sql: str) -> str:
    """pg_stat_statements-style fingerprint text: literals → ?,
    whitespace collapsed."""
    out = _STRING_LIT.sub("?", sql)
    out = _NUM_LIT.sub("?", out)
    return _WS.sub(" ", out).strip()


def query_id(normalized: str) -> int:
    """Stable 63-bit id of the normalized text (pg_stat_statements
    exposes queryid as a signed bigint)."""
    h = hashlib.md5(normalized.encode()).digest()
    return int.from_bytes(h[:8], "big") & 0x7FFF_FFFF_FFFF_FFFF


class StatStatements:
    """Accumulator keyed by queryid; one row per statement shape."""

    def __init__(self) -> None:
        self._stats: dict[int, dict] = {}
        # per-tenant accounting uses each CALL's own key (two calls of
        # one statement shape with different keys are different
        # tenants), so it accumulates separately from the shape table
        self._tenant_calls: dict[str, int] = {}
        self._tenant_shapes: dict[str, set[int]] = {}

    def record(
        self, sql: str, partition_key: str | None, executor: str
    ) -> None:
        norm = normalize_query(sql)
        qid = query_id(norm)
        row = self._stats.get(qid)
        new_shape = row is None
        if new_shape:
            self._stats[qid] = {
                "query": norm,
                "executor": executor,
                "partition_key": partition_key,
                "calls": 1,
            }
        else:
            row["calls"] += 1
        if partition_key is not None:
            self._tenant_calls[partition_key] = (
                self._tenant_calls.get(partition_key, 0) + 1
            )
            self._tenant_shapes.setdefault(partition_key, set()).add(qid)

    def reset(self) -> None:
        """↔ citus_stat_statements_reset()"""
        self._stats.clear()
        self._tenant_calls.clear()
        self._tenant_shapes.clear()

    def tenants_df(self, spark: SparkSession) -> DataFrame:
        """↔ the reference's citus_stat_tenants view (11.3+): per-tenant
        query counts, derived from the router partition keys — the
        multi-tenant accounting citus_stat_statements exists to
        enable. One row per distinct partition key seen in router
        statements, with its total calls and distinct query shapes."""
        rows = [
            (k, int(self._tenant_calls[k]), len(self._tenant_shapes[k]))
            for k in sorted(self._tenant_calls)
        ]
        return spark.createDataFrame(
            rows, "tenant_attribute string, query_count long, "
            "distinct_query_shapes long",
        )

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (qid, r["query"], r["executor"], r["partition_key"], r["calls"])
            for qid, r in self._stats.items()
        ]
        return spark.createDataFrame(
            rows,
            "queryid long, query string, executor string, "
            "partition_key string, calls long",
        )

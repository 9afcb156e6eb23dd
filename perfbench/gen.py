"""Seeded generators for the benchmark's operation streams.

Everything here is a pure function of the workload seed (and a client
number), so the same seed always produces the same statements in the
same order. The corpus itself is fixed (``corpus``); the seed picks
which tenants are hot and the written values.
"""

from __future__ import annotations

import bisect
import itertools
import math
import random
from dataclasses import dataclass

from perfbench import corpus

# Zipf exponent: the hottest tenant of 150k draws ~8% of the keys
ZIPF_S = 1.1


def rng_for(seed: int, stream: str) -> random.Random:
    """Independent deterministic stream per (seed, purpose); string
    seeds hash through SHA-512, identical on every platform."""
    return random.Random(f"perfbench:{seed}:{stream}")


class Zipf:
    """Zipf-distributed keys over ``keys`` (rank r drawn with weight
    1/r^s). Which key holds which rank is a seeded bijection, so a seed
    decides which tenants are hot."""

    def __init__(self, keys: range, seed: int, stream: str, s: float = ZIPF_S):
        self.keys = keys
        n = len(keys)
        self._cdf = list(itertools.accumulate(1.0 / r**s for r in range(1, n + 1)))
        pick = rng_for(seed, f"zipf-map:{stream}")
        # rank -> position: r * mult + offset (mod n), mult coprime to n
        mult = pick.randrange(1, n)
        while math.gcd(mult, n) != 1:
            mult += 1
        self._mult, self._offset = mult, pick.randrange(n)

    def key_of_rank(self, rank: int) -> int:
        n = len(self.keys)
        return self.keys[(rank * self._mult + self._offset) % n]

    def draw(self, rng: random.Random) -> int:
        rank = bisect.bisect_left(self._cdf, rng.random() * self._cdf[-1])
        return self.key_of_rank(min(rank, len(self.keys) - 1))


# --------------------------------------------------------------------
# tenant_mix: router phase
# --------------------------------------------------------------------

ROUTER_SQL = {
    "point_orders": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey = {k}"
    ),
    "point_lineitem": (
        "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, "
        "l_extendedprice, l_discount, l_shipdate FROM lineitem "
        "WHERE l_orderkey = {k}"
    ),
    "colocated_join": (
        "SELECT o.o_orderkey, o.o_orderdate, count(*) AS n_lines, "
        "sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
        "WHERE o.o_orderkey = {k} GROUP BY o.o_orderkey, o.o_orderdate"
    ),
    "tenant_events_agg": (
        "SELECT event_type, count(*) AS n, sum(value) AS total "
        "FROM events WHERE user_id = {k} GROUP BY event_type"
    ),
    # o_custkey is not the distribution column: every shard is read
    "multi_shard_custkey": (
        "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
        "WHERE o_custkey = {k}"
    ),
}
ROUTER_KINDS = tuple(ROUTER_SQL)


@dataclass(frozen=True)
class Stmt:
    kind: str
    key: int
    sql: str


def router_stream(seed: int, client: int, n: int) -> list[Stmt]:
    """The first ``n`` statements client ``client`` sends. Each client
    cycles through the kinds in a fixed order starting at its own
    offset, so every window sends the same mix (``multi_shard_custkey``
    is 20%) whatever the seed; each kind draws its key from the Zipf
    distribution over its tenant column, shared by all clients so both
    hit the same hot tenants."""
    dists = {
        "orders": Zipf(corpus.ORDER_KEYS, seed, "orders"),
        "users": Zipf(corpus.USER_KEYS, seed, "users"),
        "customers": Zipf(corpus.CUSTOMER_KEYS, seed, "customers"),
    }
    tenant_of = {
        "point_orders": "orders",
        "point_lineitem": "orders",
        "colocated_join": "orders",
        "tenant_events_agg": "users",
        "multi_shard_custkey": "customers",
    }
    rng = rng_for(seed, f"router-client{client}")
    out = []
    for i in range(n):
        kind = ROUTER_KINDS[(i + client) % len(ROUTER_KINDS)]
        key = dists[tenant_of[kind]].draw(rng)
        out.append(Stmt(kind, key, ROUTER_SQL[kind].format(k=key)))
    return out


# --------------------------------------------------------------------
# tenant_mix: write phase
# --------------------------------------------------------------------

WRITE_KINDS = ("insert_values", "copy_csv", "update_key", "delete_key",
               "merge_key")
COPY_ROWS = 100
# new keys live above every corpus key
INSERT_KEY_BASE = 10_000_000
COPY_KEY_BASE = 20_000_000
MERGE_KEY_BASE = 30_000_000

_STATUSES = ("F", "O", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EPOCH_DAY = 9131  # 1995-01-01 as days since 1970-01-01


@dataclass(frozen=True)
class WriteOp:
    """One write statement. ``rows`` are the full rows it leaves
    behind (insert/copy/merge) as (o_orderkey, o_custkey,
    o_orderstatus, o_totalprice, o_orderdate-day, o_orderpriority);
    ``key`` is the touched key of update/delete/merge."""

    kind: str
    key: int
    rows: tuple = ()
    price: float = 0.0


def _row(rng: random.Random, key: int) -> tuple:
    return (
        key,
        rng.randrange(corpus.CUSTOMER_KEYS.stop),
        _STATUSES[rng.randrange(3)],
        round(rng.uniform(1000, 500000), 2),
        _EPOCH_DAY + rng.randrange(2404),
        _PRIORITIES[rng.randrange(5)],
    )


def write_stream(seed: int, n_cycles: int) -> list[WriteOp]:
    """``n_cycles`` cycles of the five write kinds, in a fixed order.
    update/delete/merge pick distinct existing keys from a Zipf
    distribution over the order keys (the hot tenants); a merge on an
    odd cycle targets a new key, so both of its arms run."""
    rng = rng_for(seed, "writes")
    hot = Zipf(corpus.ORDER_KEYS, seed, "write-keys")
    used: set[int] = set()

    def fresh_key() -> int:
        while True:
            k = hot.draw(rng)
            if k not in used:
                used.add(k)
                return k

    ops = []
    for c in range(n_cycles):
        ops.append(WriteOp("insert_values", INSERT_KEY_BASE + c,
                           (_row(rng, INSERT_KEY_BASE + c),)))
        base = COPY_KEY_BASE + c * COPY_ROWS
        ops.append(WriteOp(
            "copy_csv", base,
            tuple(_row(rng, base + j) for j in range(COPY_ROWS)),
        ))
        ops.append(WriteOp("update_key", fresh_key(),
                           price=round(rng.uniform(1, 100), 2)))
        ops.append(WriteOp("delete_key", fresh_key()))
        mkey = MERGE_KEY_BASE + c if c % 2 else fresh_key()
        ops.append(WriteOp("merge_key", mkey, (_row(rng, mkey),)))
    return ops

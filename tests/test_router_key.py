"""The pre-plan router-key detector (plans/router.py): a pure function
of the statement text and the distribution catalog, so the table of
cases below needs no Spark. One Spark test checks that
`DistributedSession.sql` records the detector's key in
citus_stat_statements."""

import pytest

from perfbench.gen import ROUTER_SQL
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def catalog():
    from citus_spark.catalog import DistCatalog

    c = DistCatalog()
    c.register("orders", "hash", "o_orderkey")
    c.register("lineitem", "hash", "l_orderkey", colocate_with="orders")
    c.register("events", "hash", "user_id")  # its own colocation group
    c.register("customer", "reference")
    return c


def _router(kind):
    return ROUTER_SQL[kind].format(k=42)


# (statement, expected partition key or None)
CASES = [
    # the benchmark's five router-phase shapes
    (_router("point_orders"), "42"),
    (_router("point_lineitem"), "42"),
    (_router("colocated_join"), "42"),
    (_router("tenant_events_agg"), "42"),
    (_router("multi_shard_custkey"), None),
    # qualification and literal side
    ("SELECT * FROM orders o WHERE o.o_orderkey = 7", "7"),
    ("SELECT * FROM orders AS o WHERE o.o_orderkey = 7", "7"),
    ("SELECT * FROM orders WHERE orders.o_orderkey = 7", "7"),
    ("SELECT * FROM orders WHERE o_orderkey = 7", "7"),
    ("SELECT * FROM orders o WHERE 7 = o.o_orderkey", "7"),
    ("SELECT * FROM orders WHERE -7 = o_orderkey;", "-7"),
    # a qualifier that is no relation (a struct field) never pins
    ("SELECT * FROM events WHERE profile.user_id = 7", None),
    # string literals, comments
    ("SELECT * FROM events WHERE user_id = 'it''s'", "it's"),
    ("SELECT * FROM events WHERE user_id = 'x y'", "x y"),
    ("SELECT * FROM events WHERE event_type = 'user_id = 7'", None),
    ("SELECT * FROM events WHERE event_type = 'x' -- AND user_id = 7", None),
    ("SELECT * FROM events WHERE event_type = 'x' /* AND user_id = 7 */",
     None),
    (r"SELECT * FROM events WHERE user_id = 'a\'b'", None),
    # the literal is a whole token and ends its conjunct
    ("SELECT * FROM events WHERE user_id = 7.5", None),
    ("SELECT * FROM events WHERE user_id = 7 = flag", None),
    ("SELECT * FROM events WHERE user_id = 7 + 1", None),
    ("SELECT * FROM events WHERE user_id = 7L", None),
    ("SELECT * FROM events WHERE user_id = CAST(7 AS BIGINT)", None),
    ("SELECT * FROM events WHERE user_id IN (7)", None),
    ("SELECT * FROM events WHERE (user_id = 7) AND value > 1", "7"),
    ("SELECT * FROM events WHERE value BETWEEN 1 AND 5 AND user_id = 7",
     "7"),
    ("SELECT * FROM events WHERE user_id = 7 AND event_type != 'x'", "7"),
    # anything that can invert or widen the restriction
    ("SELECT * FROM events WHERE user_id = 7 OR user_id = 8", None),
    ("SELECT * FROM events WHERE NOT user_id = 7", None),
    ("SELECT * FROM events WHERE ! (user_id = 7)", None),
    ("SELECT * FROM events WHERE (user_id = 7) IS FALSE", None),
    ("SELECT * FROM events WHERE user_id = 7 AND value IS NOT NULL", None),
    ("SELECT * FROM events WHERE CASE WHEN user_id = 7 THEN true END",
     None),
    # exactly one SELECT: no subquery, CTE or set operation
    ("SELECT * FROM events WHERE user_id IN (SELECT 7)", None),
    ("SELECT * FROM (SELECT * FROM events WHERE user_id = 7) t", None),
    ("WITH t AS (SELECT * FROM events WHERE user_id = 7) SELECT * FROM t",
     None),
    ("WITH t AS MATERIALIZED (SELECT * FROM events WHERE user_id = 7) "
     "SELECT * FROM t", None),
    ("SELECT user_id FROM events WHERE user_id = 7 "
     "UNION ALL SELECT user_id FROM events WHERE user_id = 7", None),
    # joins: colocated on the distribution columns, or nothing
    ("SELECT * FROM orders o, lineitem l "
     "WHERE o.o_orderkey = l.l_orderkey AND l.l_orderkey = 7", "7"),
    ("SELECT * FROM orders o LEFT JOIN lineitem l "
     "ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey = 7", "7"),
    ("SELECT * FROM events a JOIN events b USING (user_id) "
     "WHERE a.user_id = 7", None),
    ("SELECT * FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
     "WHERE o_orderkey = 7", "7"),
    ("SELECT * FROM orders o JOIN lineitem l "
     "ON o.o_custkey = l.l_suppkey WHERE o.o_orderkey = 7", None),
    ("SELECT * FROM orders o JOIN events e "
     "ON o.o_orderkey = e.user_id WHERE o.o_orderkey = 7", None),
    ("SELECT * FROM orders o JOIN lineitem l "
     "ON o.o_orderkey = l.l_orderkey AND o.o_orderkey = 7", None),
    # an unqualified name two relations share is ambiguous
    ("SELECT * FROM events a JOIN events b "
     "ON a.user_id = b.user_id WHERE user_id = 7", None),
    ("SELECT count(*) AS n FROM orders JOIN lineitem "
     "ON o_orderkey = l_orderkey", None),
    ("SELECT 1", None),
    ("INSERT INTO events VALUES (7)", None),
]


@pytest.mark.parametrize("query,want", CASES)
def test_router_key(catalog, query, want):
    from citus_spark.plans.router import router_key

    key = router_key(query, catalog)
    assert (None if key is None else key.value) == want


def test_router_key_names_the_pinned_from_item(catalog):
    from citus_spark.plans.router import router_key

    q = "SELECT count(*) FROM events AS e WHERE e.user_id = '7'"
    key = router_key(q, catalog)
    assert (key.table, key.value, key.quoted, key.relations, key.alias) == (
        "events", "7", True, 1, "e"
    )
    a, b = key.from_item
    assert q[a:b] == "events AS e"


def test_router_shapes_record_executor_and_partition_key(spark):
    from citus_spark.session import DistributedSession

    sess = DistributedSession(spark)
    sess.load_tables(SF_SMALL)
    sess.stat_statements.reset()
    for kind in ROUTER_SQL:
        sess.sql(_router(kind))
    rows = {
        r.query: (r.executor, r.partition_key)
        for r in sess.citus_stat_statements().collect()
    }
    from citus_spark.stats import normalize_query

    got = {kind: rows[normalize_query(_router(kind))] for kind in ROUTER_SQL}
    assert got == {
        "point_orders": ("router", "42"),
        "point_lineitem": ("router", "42"),
        "colocated_join": ("router", "42"),
        "tenant_events_agg": ("router", "42"),
        "multi_shard_custkey": ("adaptive", None),
    }


def test_isolated_string_tenant_routes_only_quoted_literals(spark, tmp_path):
    """On a string distribution column Spark's `k = 7` also matches
    '07', so only the quoted literal may narrow the scan to the
    isolated tenant's partition."""
    from citus_spark.session import DistributedSession

    sess = DistributedSession(spark)
    p = str(tmp_path / "iso_str")
    spark.createDataFrame(
        [("7", 1), ("07", 2), ("8", 3)], "k string, v int"
    ).write.parquet(p)
    sess.create_distributed_table(
        "iso_str", spark.read.parquet(p), "k", buckets=4
    )
    sess.catalog.get("iso_str").path = p
    sess.isolate_tenant_to_new_shard("iso_str", "7")

    def values(q):
        return sorted(r.v for r in sess.sql(q).collect())

    assert values("SELECT v FROM iso_str WHERE k = 7") == [1, 2]
    assert values("SELECT v FROM iso_str WHERE k = '7'") == [1]

"""Property tests for the round-3 distributed primitives: the theta
sketch's state and the two-phase prefix sum must hold for ANY
input, not just the fixtures — these invariants are what make the
operators safe to re-aggregate / re-partition at scale."""

import hashlib

from hypothesis import given, settings, strategies as st


# pure-python reference of the portable hash (functions.hash64)
def _h64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


keys = st.lists(
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=8
    ),
    min_size=1,
    max_size=120,
)


@settings(max_examples=15, deadline=None)
@given(keys, keys, st.integers(min_value=2, max_value=16))
def test_theta_sketch_is_bottom_k_of_distinct_hashes(spark, xs, ys, k):
    """sketch(X ∪ Y) == the k smallest distinct hashes, for any
    multisets and any k — the state pre-aggregated sketch columns
    keep."""
    from citus_spark.operators.theta_sketch import theta_sketch

    dfx = spark.createDataFrame([("g", x) for x in xs], "g string, v string")
    dfy = spark.createDataFrame([("g", y) for y in ys], "g string, v string")
    su = theta_sketch(dfx.unionAll(dfy), ["g"], "v", k=k).collect()[0].sketch

    # python reference: bottom-k of the distinct hash set
    want = sorted({_h64(v) for v in xs + ys})[:k]
    assert su == want


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=80),
    st.integers(min_value=1, max_value=9),
)
def test_prefix_sum_any_values_any_partitioning(spark, ns, nparts):
    """Exclusive running offsets must match the sequential reference
    for any value list and any partition count."""
    from citus_spark.operators.prefix_sum import with_global_offset

    rows = [(i, n) for i, n in enumerate(ns)]
    df = spark.createDataFrame(rows, "k long, n long")
    got = {
        r.k: r.off
        for r in with_global_offset(
            df, "k", "n", out_col="off", n_partitions=nparts
        ).collect()
    }
    acc, want = 0, {}
    for i, n in enumerate(ns):
        want[i] = acc
        acc += n
    assert got == want


# separator escaping property: string_to_table must split exactly like
# Python's literal str.split for ANY separator built from printable
# characters (incl. every regex metachar and the quote), because
# _literal_to_regex promises verbatim-separator semantics.
_SEP_ALPHABET = "ab.|*+?^$()[]{}\\'"
_TEXT_ALPHABET = "abcxyz.|*'"


def _sql_quote(s: str) -> str:
    # PG-style literal with Spark C-escapes: double quotes, double
    # backslashes (Spark's parser will consume one level)
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


@settings(max_examples=20, deadline=None)
@given(
    st.text(alphabet=_TEXT_ALPHABET, min_size=0, max_size=12),
    st.text(alphabet=_SEP_ALPHABET, min_size=1, max_size=3),
)
def test_string_to_table_splits_verbatim(spark, text, sep):
    from citus_spark.session import DistributedSession

    sess = DistributedSession(spark)
    rows = sess.sql(
        f"SELECT p FROM string_to_table({_sql_quote(text)}, "
        f"{_sql_quote(sep)}) AS t(p)"
    ).collect()
    # PG corner: the empty input string yields ZERO rows (mirroring
    # string_to_array('') = {}); otherwise literal str.split semantics
    want = [] if text == "" else text.split(sep)
    assert [r.p for r in rows] == want

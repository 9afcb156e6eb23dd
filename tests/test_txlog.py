"""Transaction-log table format: snapshot isolation, atomic MERGE,
optimistic concurrency, crash safety, time travel, vacuum."""

import pytest

from citus_spark.sources.txlog import Commit, ConcurrentWriteError, TxTable


@pytest.fixture()
def orders(spark):
    from tests.conftest import SF_SMALL

    return (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter("o_orderkey < 200")
    )


def test_create_read_history(spark, orders, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), orders)
    assert t.read().count() == orders.count()
    h = t.history()
    assert h[0]["op"] == "create" and h[0]["version"] == 0


def test_append_and_time_travel(spark, orders, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), orders.filter("o_orderkey < 100"))
    n0 = t.read().count()
    v = t.append(orders.filter("o_orderkey >= 100"))
    assert v == 1
    assert t.read().count() == orders.count()
    assert t.read(version=0).count() == n0  # old snapshot intact


def test_merge_upsert_matches_nontx_semantics(spark, orders, tmp_path):
    """TxTable.merge == sources.ingest.merge_into on the same inputs."""
    from pyspark.sql import functions as F

    from citus_spark.sources.ingest import merge_into

    src = orders.filter("o_orderkey % 3 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    ).withColumn(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_orderkey") + 100000)
        .otherwise(F.col("o_orderkey")),
    )
    t = TxTable.create(spark, str(tmp_path / "t"), orders)
    t.merge(src, keys=["o_orderkey"])

    plain = str(tmp_path / "plain")
    orders.write.parquet(plain)
    merge_into(spark, plain, src, keys=["o_orderkey"])

    got = sorted(map(tuple, t.read().collect()))
    want = sorted(map(tuple, spark.read.parquet(plain).collect()))
    assert got == want


def test_delete_where_and_empty_table_read(spark, orders, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), orders)
    t.delete_where("o_orderkey >= 0")  # delete everything
    out = t.read()
    assert out.count() == 0
    assert out.columns == ["o_orderkey", "o_custkey", "o_totalprice"]


def test_reader_snapshot_survives_overwrite_and_vacuum(spark, orders, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), orders)
    pinned = t.read()  # snapshot pinned at v0
    t.overwrite(orders.limit(5))
    assert pinned.count() == orders.count()  # still the old files
    # vacuum with retention keeps v0's files; dropping retention kills them
    t.vacuum(retain_versions=2)
    assert pinned.count() == orders.count()
    removed = t.vacuum(retain_versions=1)
    assert removed  # v0's files collected now


def test_crash_before_commit_leaves_table_unchanged(spark, orders, tmp_path):
    """Data files land before the commit — kill the writer between the
    two steps and the table must be bit-identical, with the garbage
    collectable by vacuum."""
    t = TxTable.create(spark, str(tmp_path / "t"), orders)
    before = sorted(map(tuple, t.read().collect()))
    # simulate the crash: stage files, never commit
    t._write_files(orders.limit(3))
    assert sorted(map(tuple, t.read().collect())) == before
    orphans = t.vacuum()
    assert orphans
    assert sorted(map(tuple, t.read().collect())) == before


def test_version_claim_is_exclusive(spark, orders, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), orders)
    with pytest.raises(FileExistsError):
        t._commit(Commit(version=0, op="append"))


def test_concurrent_append_retries_to_next_version(spark, orders, tmp_path):
    t1 = TxTable.create(spark, str(tmp_path / "t"), orders.limit(3))
    t2 = TxTable(spark, str(tmp_path / "t"))
    # interleave: both see v0; both append; both must land (v1, v2)
    t1.append(orders.filter("o_orderkey < 50"))
    t2.append(orders.filter("o_orderkey >= 50"))
    assert t1.latest_version() == 2
    assert t2.read().count() == 3 + orders.count()


def test_concurrent_merge_rebases_not_clobbers(spark, orders, tmp_path):
    """A merge that loses the race must recompute against the winner's
    snapshot — the winner's rows survive."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    t = TxTable.create(spark, path, orders)
    winner_rows = orders.limit(0).unionByName(
        spark.createDataFrame(
            [(999999, 1, 42.0)], "o_orderkey bigint, o_custkey bigint, o_totalprice double"
        ).select(
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_totalprice"),
        )
    )

    real_commit = t._commit
    state = {"injected": False}

    def racing_commit(commit):
        # first replace-commit attempt: another writer sneaks in an
        # append claiming the same version
        if not state["injected"] and commit.op == "merge":
            state["injected"] = True
            other = TxTable(spark, path)
            other.append(winner_rows)
        return real_commit(commit)

    t._commit = racing_commit
    src = orders.limit(2).withColumn("o_totalprice", F.lit(0.0))
    t.merge(src, keys=["o_orderkey"])
    t._commit = real_commit
    out = t.read()
    assert out.filter("o_orderkey = 999999").count() == 1  # winner survived
    assert out.filter("o_totalprice = 0.0").count() == 2  # merge applied


def test_compact_preserves_rows_transactionally(spark, orders, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), orders.repartition(16))
    _v, files, _s = t.snapshot()
    assert len(files) > 1
    before = sorted(map(tuple, t.read().collect()))
    t.compact(target_file_bytes=1 << 30)
    _v, files2, _s = t.snapshot()
    assert len(files2) == 1
    assert sorted(map(tuple, t.read().collect())) == before


def test_concurrent_overwrite_conflict_raises(spark, orders, tmp_path):
    """When every retry loses the race, the writer must fail loudly —
    never silently clobber."""
    path = str(tmp_path / "t")
    t = TxTable.create(spark, path, orders)
    real_commit = t._commit

    def always_lose(commit):
        other = TxTable(spark, path)
        other.append(orders.limit(1))
        return real_commit(commit)

    t._commit = always_lose
    with pytest.raises(ConcurrentWriteError):
        t.overwrite(orders.limit(1))


def test_idempotent_txn_append(spark, orders, tmp_path):
    """Same (app_id, txn_id) twice → one commit, rows counted once;
    the duplicate's staged files are vacuumable garbage."""
    t = TxTable.create(spark, str(tmp_path / "t"), orders.limit(0))
    n = orders.count()
    v1 = t.append(orders, txn=("ingest", 7))
    v2 = t.append(orders, txn=("ingest", 7))  # replay — must be a no-op
    assert v2 == v1
    assert t.read().count() == n
    assert t.last_txn_id("ingest") == 7
    # lower txn ids are also skipped (progress is monotone)
    t.append(orders, txn=("ingest", 3))
    assert t.read().count() == n
    # a different app_id is independent
    t.append(orders.limit(1), txn=("backfill", 0))
    assert t.read().count() == n + 1


def test_restore_rolls_back_and_is_auditable(spark, orders, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), orders)
    n0 = t.read().count()
    t.overwrite(orders.limit(2))
    t.restore(0)
    assert t.read().count() == n0
    assert t.history()[0]["op"] == "restore"
    # restoring past the vacuum horizon fails loudly
    t.overwrite(orders.limit(1))
    t.vacuum(retain_versions=1)
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(0)


# ---------------------------------------------------------------------------
# Multi-table transaction envelope (MultiTableTxn — the 2PC analog of
# reference transaction/remote_transaction.c + pg_dist_transaction
# recovery)


def _two_tables(spark, tmp_path):
    from citus_spark.sources.txlog import TxTable

    a = TxTable.create(
        spark, str(tmp_path / "ta"),
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
    )
    b = TxTable.create(
        spark, str(tmp_path / "tb"),
        spark.createDataFrame([(1, 10), (2, 20)], "k int, n int"),
    )
    return a, b


def test_two_table_commit_is_atomic(spark, tmp_path):
    from citus_spark.sources.txlog import MultiTableTxn

    a, b = _two_tables(spark, tmp_path)
    txn = MultiTableTxn(str(tmp_path / "coord"))
    txn.merge(a, spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"),
              keys=["k"])
    txn.append(b, spark.createDataFrame([(3, 30)], "k int, n int"))
    assert txn.commit() == "commit"
    assert {(r.k, r.v) for r in a.read().collect()} == {
        (1, "a"), (2, "B"), (3, "c")
    }
    assert {(r.k, r.n) for r in b.read().collect()} == {
        (1, 10), (2, 20), (3, 30)
    }


def test_interrupted_commit_leaves_old_snapshots(spark, tmp_path):
    """Coordinator crash after table A prepared but before the
    decision: BOTH tables must still read their old snapshot, and
    recovery must abort the in-doubt transaction so writes resume."""
    import pytest

    from citus_spark.sources.txlog import (
        ConcurrentWriteError,
        MultiTableTxn,
        TransactionAborted,
    )

    a, b = _two_tables(spark, tmp_path)
    before_a = {(r.k, r.v) for r in a.read().collect()}
    before_b = {(r.k, r.n) for r in b.read().collect()}

    txn = MultiTableTxn(str(tmp_path / "coord"))
    txn.merge(a, spark.createDataFrame([(1, "X")], "k int, v string"),
              keys=["k"])
    txn.append(b, spark.createDataFrame([(9, 90)], "k int, n int"))
    with pytest.raises(RuntimeError, match="simulated coordinator crash"):
        txn.commit(_crash_after_prepares=1)

    # both tables still read the OLD snapshot (A's prepared commit is
    # in-doubt and therefore invisible)
    assert {(r.k, r.v) for r in a.read().collect()} == before_a
    assert {(r.k, r.n) for r in b.read().collect()} == before_b

    # a writer on the prepared table refuses to build on the in-doubt
    # head until recovery resolves it
    with pytest.raises(ConcurrentWriteError, match="in-doubt"):
        a.append(spark.createDataFrame([(7, "z")], "k int, v string"))

    from citus_spark.sources.txlog import MultiTableTxn as M

    aborted = M.recover(str(tmp_path / "coord"), [a, b])
    assert len(aborted) == 1
    # after presumed-abort: old data, writes flow again
    assert {(r.k, r.v) for r in a.read().collect()} == before_a
    a.append(spark.createDataFrame([(7, "z")], "k int, v string"))
    assert (7, "z") in {(r.k, r.v) for r in a.read().collect()}

    # the crashed transaction itself can never commit afterwards
    with pytest.raises(TransactionAborted):
        txn2 = MultiTableTxn(str(tmp_path / "coord"))
        txn2.decision_path = txn.decision_path  # same gtx resumes
        txn2._ops = []
        txn2.commit()


def test_decision_file_is_single_commit_point(spark, tmp_path):
    """Once the decision landed, recovery cannot abort the
    transaction — the coordinator's commit stands."""
    from citus_spark.sources.txlog import MultiTableTxn

    a, b = _two_tables(spark, tmp_path)
    txn = MultiTableTxn(str(tmp_path / "coord"))
    txn.overwrite(a, spark.createDataFrame([(5, "e")], "k int, v string"))
    txn.append(b, spark.createDataFrame([(5, 50)], "k int, n int"))
    txn.commit()
    aborted = MultiTableTxn.recover(str(tmp_path / "coord"), [a, b])
    assert aborted == []
    assert {(r.k, r.v) for r in a.read().collect()} == {(5, "e")}


def test_time_travel_spans_the_transaction(spark, tmp_path):
    """The pre-transaction snapshot remains readable by version."""
    from citus_spark.sources.txlog import MultiTableTxn

    a, b = _two_tables(spark, tmp_path)
    v_a = a.latest_version()
    txn = MultiTableTxn(str(tmp_path / "coord"))
    txn.delete_where(a, "k = 1")
    txn.append(b, spark.createDataFrame([(3, 30)], "k int, n int"))
    txn.commit()
    assert {r.k for r in a.read().collect()} == {2}
    assert {r.k for r in a.read(version=v_a).collect()} == {1, 2}


def test_same_table_twice_rejected_upfront(spark, tmp_path):
    """Two ops on one table would self-deadlock against the txn's own
    prepared head — rejected before any prepare happens."""
    import pytest

    from citus_spark.sources.txlog import MultiTableTxn

    a, b = _two_tables(spark, tmp_path)
    txn = MultiTableTxn(str(tmp_path / "coord"))
    txn.append(a, spark.createDataFrame([(9, "z")], "k int, v string"))
    txn.append(a, spark.createDataFrame([(8, "y")], "k int, v string"))
    with pytest.raises(ValueError, match="once per transaction"):
        txn.commit()
    # nothing prepared: both tables still writable and unchanged
    assert {r.k for r in a.read().collect()} == {1, 2}
    a.append(spark.createDataFrame([(7, "w")], "k int, v string"))


def test_prepare_failure_aborts_immediately(spark, tmp_path):
    """A prepare failure with the coordinator ALIVE records abort at
    once — already-prepared tables unblock without recovery."""
    import pytest

    from citus_spark.sources.txlog import MultiTableTxn

    a, b = _two_tables(spark, tmp_path)
    txn = MultiTableTxn(str(tmp_path / "coord"))
    txn.append(a, spark.createDataFrame([(9, "z")], "k int, v string"))
    # a bad op kind on table B fails during prepare
    txn._ops.append((b, "delete", ("THIS IS NOT ( VALID SQL",)))
    with pytest.raises(Exception):
        txn.commit()
    from citus_spark.sources.txlog import txn_decision

    assert txn_decision(txn.decision_path) == "abort"
    # table A's prepared commit resolved: invisible, and writes flow
    assert {r.k for r in a.read().collect()} == {1, 2}
    a.append(spark.createDataFrame([(7, "w")], "k int, v string"))
    assert (7, "w") in {(r.k, r.v) for r in a.read().collect()}


# -- round-7: named cluster-wide restore points (TxCluster)


def _cluster_two(spark, tmp_path):
    from citus_spark.sources.txlog import TxCluster, TxTable

    a = TxTable.create(
        spark, str(tmp_path / "rp_a"),
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
    )
    b = TxTable.create(
        spark, str(tmp_path / "rp_b"),
        spark.createDataFrame([(1, 10), (2, 20)], "k int, n int"),
    )
    cl = TxCluster(str(tmp_path / "rp_coord"))
    cl.register("a", a)
    cl.register("b", b)
    return cl, a, b


def test_restore_point_roundtrip(spark, tmp_path):
    cl, a, b = _cluster_two(spark, tmp_path)
    m = cl.create_restore_point("before_load")
    assert m["tables"] == {"a": 0, "b": 0}
    a.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    b.overwrite(spark.createDataFrame([(9, 90)], "k int, n int"))
    restored = cl.restore_to_point("before_load")
    assert restored == {"a": 0, "b": 0}
    assert {(r.k, r.v) for r in a.read().collect()} == {(1, "a"), (2, "b")}
    assert {(r.k, r.n) for r in b.read().collect()} == {(1, 10), (2, 20)}
    # the restore itself is auditable history, not erasure
    assert a.history()[0]["op"] == "2pc-restore"  # newest first
    # duplicate names refuse; unknown names refuse
    with pytest.raises(ValueError, match="already exists"):
        cl.create_restore_point("before_load")
    with pytest.raises(ValueError, match="does not exist"):
        cl.restore_to_point("never_made")


def test_restore_point_after_partial_multi_table_write(spark, tmp_path):
    """The verdict's crash-sim contract: a multi-table write crashes
    after one table prepared; restoring to the point returns EVERY
    table to the recorded state (and recovery resolves the in-doubt
    transaction first)."""
    from citus_spark.sources.txlog import MultiTableTxn

    cl, a, b = _cluster_two(spark, tmp_path)
    cl.create_restore_point("steady")
    # one COMMITTED multi-table write moves both tables past the point
    txn = MultiTableTxn(str(tmp_path / "rp_coord"))
    txn.append(a, spark.createDataFrame([(3, "c")], "k int, v string"))
    txn.append(b, spark.createDataFrame([(3, 30)], "k int, n int"))
    assert txn.commit() == "commit"
    # a second write CRASHES between prepares → in-doubt head on a
    crash = MultiTableTxn(str(tmp_path / "rp_coord"))
    crash.append(a, spark.createDataFrame([(4, "d")], "k int, v string"))
    crash.append(b, spark.createDataFrame([(4, 40)], "k int, n int"))
    with pytest.raises(RuntimeError, match="simulated coordinator crash"):
        crash.commit(_crash_after_prepares=1)
    # the in-doubt head blocks the restore (writers must not build
    # past it) until recovery aborts it — the documented flow
    with pytest.raises(Exception, match="in-doubt"):
        cl.restore_to_point("steady")
    MultiTableTxn.recover(str(tmp_path / "rp_coord"), [a, b])
    cl.restore_to_point("steady")
    assert {(r.k, r.v) for r in a.read().collect()} == {(1, "a"), (2, "b")}
    assert {(r.k, r.n) for r in b.read().collect()} == {(1, 10), (2, 20)}


def test_restore_point_capture_is_consistent(spark, tmp_path):
    """A table moving between the two capture scans forces a retry —
    the recorded vector is never torn."""
    from citus_spark.sources import txlog as _tx

    cl, a, b = _cluster_two(spark, tmp_path)
    moved = {"done": False}
    orig = _tx.TxTable.latest_version

    def racing(self):
        v = orig(self)
        # first scan of table b: sneak a commit into table a
        if not moved["done"] and self.path.endswith("rp_b"):
            moved["done"] = True
            a.append(spark.createDataFrame([(7, "g")], "k int, v string"))
        return v

    _tx.TxTable.latest_version = racing
    try:
        m = cl.create_restore_point("racy")
    finally:
        _tx.TxTable.latest_version = orig
    # the vector reflects the post-race state of a (retried capture)
    assert m["tables"]["a"] == a.latest_version()


def test_restore_point_sql_spelling(spark):
    from citus_spark.session import DistributedSession
    from citus_spark.sources.txlog import TxTable

    s = DistributedSession(spark)
    import tempfile, os as _os, uuid as _uuid

    d = tempfile.mkdtemp(prefix="rp_sql_")
    t = TxTable.create(
        spark, _os.path.join(d, "t"),
        spark.createDataFrame([(1,)], "k int"),
    )
    s.tx_cluster.register("t", t)
    name = f"rp_{_uuid.uuid4().hex[:6]}"
    row = s.sql(f"SELECT citus_create_restore_point('{name}')").collect()[0]
    assert row[0] == name and row[1] == 1
    t.append(spark.createDataFrame([(2,)], "k int"))
    s.tx_cluster.restore_to_point(name)
    assert t.read().count() == 1

"""Versioned transactional table format over plain parquet — ACID
writes without a Delta/Iceberg dependency.

↔ reference: Citus makes MERGE and multi-shard DML atomic with
two-phase commit across workers (transaction/remote_transaction.c,
transaction_management.c; merge_planner.c plans MERGE as a distributed
modify inside that envelope). On a lake layout the equivalent
correctness contract — readers never see a torn table, concurrent
writers can't silently clobber each other — is a commit log with
atomic version claims: the Delta/Iceberg pattern, implemented here
with stdlib only so it runs in this container.

Layout:
    table_dir/
      _txlog/00000000000000000001.json    one commit per version
      <uuid>.parquet                      immutable data files

A commit lists the data files it adds and removes plus the snapshot
version the writer read. Committing version N is an atomic
`os.link(tmp, _txlog/N.json)`: the content is fully written before the
link, and link(2) fails if N already exists — so a version can never
be observed half-written and two writers can never both own N. (On an
object store the same claim is a conditional put / if-none-match —
the identical protocol Delta uses via its log store.)

Isolation rules (optimistic concurrency):
  - `append` never conflicts: losing a version race just re-claims the
    next number — added files are blind to other writers' files.
  - `overwrite` / `delete_where` / `merge` / `compact` validate that
    the table version still equals the snapshot they read; if another
    writer committed first they recompute against the new snapshot and
    retry (bounded), else raise ConcurrentWriteError.
  - Readers pin a snapshot (version → file list) and are immune to
    concurrent commits: data files are immutable and only `vacuum`
    deletes them.

Crash safety: data files are written BEFORE the commit that references
them, so a crash at any point leaves only unreferenced garbage —
never a torn table, never a double-applied merge. `vacuum()` collects
the garbage and old snapshots past the retention horizon.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_LOG_DIR = "_txlog"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between snapshot read and commit, and
    the operation could not be safely rebased."""


@dataclass
class Commit:
    version: int
    op: str
    add: list[dict] = field(default_factory=list)  # {path, rows, bytes}
    remove: list[str] = field(default_factory=list)
    read_version: int = -1
    schema_json: str = ""
    txn: tuple[str, int] | None = None  # (app_id, txn_id) idempotence key
    # 2PC: absolute path of the coordinator's decision file. A commit
    # carrying this is PREPARED — visible only once that file exists
    # with decision=commit (see MultiTableTxn).
    pending_txn: str | None = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "op": self.op,
                "add": self.add,
                "remove": self.remove,
                "read_version": self.read_version,
                "schema": self.schema_json,
                "txn": list(self.txn) if self.txn else None,
                "pending_txn": self.pending_txn,
            }
        )

    @classmethod
    def from_file(cls, path: str) -> "Commit":
        with open(path) as f:
            d = json.load(f)
        txn = d.get("txn")
        return cls(
            version=d["version"],
            op=d["op"],
            add=d["add"],
            remove=d["remove"],
            read_version=d["read_version"],
            schema_json=d["schema"],
            txn=tuple(txn) if txn else None,
            pending_txn=d.get("pending_txn"),
        )


# decisions are immutable once written (single atomic link claim), so
# commit/abort outcomes cache forever; undecided re-checks every time
_DECISION_CACHE: dict[str, str] = {}


def txn_decision(decision_path: str) -> str | None:
    """→ 'commit' | 'abort' | None (undecided) for a 2PC decision
    file."""
    hit = _DECISION_CACHE.get(decision_path)
    if hit is not None:
        return hit
    try:
        with open(decision_path) as f:
            d = json.load(f)["decision"]
    except FileNotFoundError:
        return None
    _DECISION_CACHE[decision_path] = d
    return d


class TxTable:
    """A transactional parquet table rooted at `path`."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        if not os.path.isdir(os.path.join(path, _LOG_DIR)):
            raise FileNotFoundError(
                f"{path} is not a TxTable (missing {_LOG_DIR}/); "
                "use TxTable.create"
            )

    # ------------------------------------------------------------------
    # creation / log access
    # ------------------------------------------------------------------
    @classmethod
    def create(cls, spark: SparkSession, path: str, df: DataFrame) -> "TxTable":
        """Create the table with `df` as version 1 (df may be empty —
        its schema is recorded so an empty table stays readable)."""
        os.makedirs(os.path.join(path, _LOG_DIR), exist_ok=True)
        t = cls.__new__(cls)
        t.spark, t.path = spark, path
        add = t._write_files(df)
        t._commit(Commit(version=0, op="create", add=add,
                         schema_json=df.schema.json()))
        return t

    def _log_path(self, version: int) -> str:
        return os.path.join(self.path, _LOG_DIR, f"{version:020d}.json")

    def _commits(self) -> list[Commit]:
        log = os.path.join(self.path, _LOG_DIR)
        out = []
        for name in sorted(os.listdir(log)):
            if name.endswith(".json"):
                out.append(Commit.from_file(os.path.join(log, name)))
        return out

    def latest_version(self) -> int:
        commits = self._commits()
        return commits[-1].version if commits else -1

    def history(self) -> list[dict]:
        """Commit metadata, newest first (↔ DESCRIBE HISTORY)."""
        return [
            {
                "version": c.version,
                "op": c.op,
                "n_added": len(c.add),
                "n_removed": len(c.remove),
            }
            for c in reversed(self._commits())
        ]

    def snapshot(self, version: int | None = None) -> tuple[int, list[str], str]:
        """→ (version, live data files, schema json) by replaying the
        log up to `version` (latest when None). Prepared 2PC commits
        apply only once their coordinator decision says commit;
        undecided or aborted ones are skipped — a reader always sees
        either every table of a distributed transaction or none."""
        files: list[str] = []
        schema = ""
        seen = -1
        for c in self._commits():
            if version is not None and c.version > version:
                break
            seen = c.version
            if c.pending_txn is not None:
                if txn_decision(c.pending_txn) != "commit":
                    continue  # undecided or aborted: invisible
            if c.schema_json:
                schema = c.schema_json
            removed = set(c.remove)
            files = [f for f in files if f not in removed]
            files.extend(a["path"] for a in c.add)
        if version is not None and seen < version:
            raise ValueError(f"version {version} does not exist (latest {seen})")
        return seen, files, schema

    def _check_head_decided(self) -> None:
        """Writers must not build past an in-doubt prepared commit:
        its changes may yet become visible, and a commit stacked on an
        undecided head would have read neither the pre- nor the
        post-transaction table. Decided heads (commit OR abort) are
        safe to build on."""
        commits = self._commits()
        if commits and commits[-1].pending_txn is not None:
            if txn_decision(commits[-1].pending_txn) is None:
                raise ConcurrentWriteError(
                    f"table {self.path} has an in-doubt distributed "
                    f"transaction at version {commits[-1].version}; "
                    "resolve it first (MultiTableTxn.recover)"
                )

    # ------------------------------------------------------------------
    # read
    # ------------------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read (time travel with `version`). Pins the file
        list at call time: concurrent commits don't change what this
        DataFrame scans."""
        _v, files, schema = self.snapshot(version)
        if not files:
            return self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema))
            )
        return self.spark.read.parquet(
            *[os.path.join(self.path, f) for f in files]
        )

    # ------------------------------------------------------------------
    # write protocol
    # ------------------------------------------------------------------
    def _write_files(self, df: DataFrame) -> list[dict]:
        """Materialize df as immutable uniquely-named parquet files in
        the table dir (NOT yet referenced by any commit)."""
        import pyarrow.parquet as pq

        tmp = os.path.join(self.path, f".stage-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(tmp)
        add = []
        for name in os.listdir(tmp):
            if not name.endswith(".parquet"):
                continue
            final = f"{uuid.uuid4().hex}.parquet"
            src = os.path.join(tmp, name)
            add.append(
                {
                    "path": final,
                    "rows": pq.ParquetFile(src).metadata.num_rows,
                    "bytes": os.path.getsize(src),
                }
            )
            os.rename(src, os.path.join(self.path, final))
        shutil.rmtree(tmp, ignore_errors=True)
        return add

    def _commit(self, commit: Commit) -> int:
        """Atomically claim `commit.version` via link(2). Raises
        FileExistsError when the version is already taken."""
        tmp = os.path.join(
            self.path, _LOG_DIR, f".tmp-{uuid.uuid4().hex}.json"
        )
        with open(tmp, "w") as f:
            f.write(commit.to_json())
        try:
            os.link(tmp, self._log_path(commit.version))
        finally:
            os.unlink(tmp)
        return commit.version

    def last_txn_id(self, app_id: str) -> int:
        """Highest committed txn_id for `app_id` (-1 when none) — the
        streaming-sink idempotence cursor (↔ Delta's txn action)."""
        out = -1
        for c in self._commits():
            if c.txn and c.txn[0] == app_id:
                out = max(out, int(c.txn[1]))
        return out

    def append(
        self, df: DataFrame, txn: tuple[str, int] | None = None
    ) -> int:
        """INSERT — never conflicts; retries version claims blindly.

        With `txn=(app_id, txn_id)` the append is IDEMPOTENT: if a
        commit with the same app_id and a txn_id >= this one already
        exists (the writer crashed after committing but before
        recording progress, then retried), the append is a no-op.
        This is exactly-once for a streaming foreachBatch sink that
        passes its epoch id."""
        if txn is not None and self.last_txn_id(txn[0]) >= int(txn[1]):
            return self.latest_version()  # already applied — skip
        add = self._write_files(df)
        while True:
            self._check_head_decided()
            v = self.latest_version() + 1
            # re-check under the new snapshot: a concurrent retry of
            # the same txn may have won the race while we wrote files
            if txn is not None and self.last_txn_id(txn[0]) >= int(txn[1]):
                for a in add:  # our files become unreferenced garbage
                    try:
                        os.unlink(os.path.join(self.path, a["path"]))
                    except OSError:
                        pass
                return self.latest_version()
            try:
                return self._commit(Commit(version=v, op="append", add=add,
                                           read_version=v - 1, txn=txn))
            except FileExistsError:
                continue  # lost the race; our files are untouched

    def restore(self, version: int) -> int:
        """ROLLBACK analog (↔ Delta RESTORE): one commit that resets
        the live file set to snapshot `version`. History is preserved
        — the restore itself is a new version, so it is auditable and
        itself restorable."""
        _v, want_files, _s = self.snapshot(version)
        missing = [
            f for f in want_files
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise ValueError(
                f"cannot restore to version {version}: {len(missing)} data "
                "file(s) already vacuumed"
            )
        for _ in range(3):
            self._check_head_decided()
            cur_version, cur_files, _s2 = self.snapshot()
            add = [
                {"path": f, "rows": None, "bytes": None}
                for f in want_files
                if f not in set(cur_files)
            ]
            remove = [f for f in cur_files if f not in set(want_files)]
            try:
                return self._commit(
                    Commit(
                        version=cur_version + 1,
                        op="restore",
                        add=add,
                        remove=remove,
                        read_version=cur_version,
                    )
                )
            except FileExistsError:
                continue
        raise ConcurrentWriteError("restore lost the commit race 3 times")

    def _replace_commit(
        self, op: str, compute: "callable", max_retries: int = 3
    ) -> int:
        """Shared optimistic-retry loop for full-snapshot rewrites.
        `compute(read_df)` → DataFrame to become the new table body."""
        for _ in range(max_retries):
            self._check_head_decided()
            read_version, old_files, _schema = self.snapshot()
            add = self._write_files(compute(self.read(read_version)))
            try:
                return self._commit(
                    Commit(
                        version=read_version + 1,
                        op=op,
                        add=add,
                        remove=old_files,
                        read_version=read_version,
                    )
                )
            except FileExistsError:
                # another writer won; our files become garbage for
                # vacuum, and we recompute against the new snapshot
                continue
        raise ConcurrentWriteError(
            f"{op} lost the commit race {max_retries} times"
        )

    def overwrite(self, df: DataFrame) -> int:
        return self._replace_commit("overwrite", lambda _cur: df)

    def delete_where(self, predicate: str) -> int:
        """DELETE FROM t WHERE predicate."""
        return self._replace_commit(
            "delete", lambda cur: cur.filter(f"NOT ({predicate})")
        )

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        when_matched: str = "update",
        insert_unmatched: bool = True,
    ) -> int:
        """Transactional MERGE (↔ reference merge_planner.c:115, made
        atomic by the commit protocol rather than 2PC): whole-row
        upsert semantics identical to sources.ingest.merge_into, but
        readers see the old or the new table, never a mix, and a
        concurrent writer triggers recompute-and-retry instead of a
        lost update."""

        def compute(cur: DataFrame) -> DataFrame:
            kept = cur.join(source.select(*keys), keys, "left_anti")
            parts = [kept]
            if when_matched == "update":
                parts.append(source.join(cur.select(*keys), keys, "left_semi"))
            elif when_matched == "ignore":
                parts.append(cur.join(source.select(*keys), keys, "left_semi"))
            elif when_matched != "delete":
                raise ValueError(f"unknown when_matched: {when_matched!r}")
            if insert_unmatched:
                parts.append(source.join(cur.select(*keys), keys, "left_anti"))
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        return self._replace_commit("merge", compute)

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Bin-pack small files into ~target-size ones — same contract
        as sources.ingest.compact_table but transactional: the swap is
        one commit, concurrent readers keep their snapshot."""
        import math

        def compute(cur: DataFrame) -> DataFrame:
            _v, files, _s = self.snapshot()
            size = sum(
                os.path.getsize(os.path.join(self.path, f)) for f in files
            )
            n = max(1, math.ceil(size / target_file_bytes))
            return cur.repartition(n)

        return self._replace_commit("compact", compute)

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def vacuum(self, retain_versions: int = 1) -> list[str]:
        """Delete data files unreachable from the last
        `retain_versions` snapshots (orphans from crashed/raced writers
        included). Time travel older than the horizon stops working —
        same contract as Delta's VACUUM."""
        latest = self.latest_version()
        keep_from = max(0, latest - retain_versions + 1)
        live: set[str] = set()
        for v in range(keep_from, latest + 1):
            try:
                _v, files, _s = self.snapshot(v)
            except ValueError:
                continue
            live.update(files)
        removed = []
        for name in os.listdir(self.path):
            if name.endswith(".parquet") and name not in live:
                os.unlink(os.path.join(self.path, name))
                removed.append(name)
        return removed


# ---------------------------------------------------------------------------
# Multi-table transaction envelope — the 2PC analog.
#
# ↔ reference transaction/remote_transaction.c: Citus wraps multi-shard
# writes in PREPARE TRANSACTION on every worker, then the coordinator's
# own commit decides; workers' prepared transactions are then committed
# (or, after a crash, resolved from pg_dist_transaction). Mapping onto
# the commit-log substrate:
#
#   prepare  = claim each table's next version with a commit record
#              carrying pending_txn = <decision file path>  (the
#              worker-side PREPARE TRANSACTION)
#   decide   = atomically link ONE decision file {"decision": commit}
#              (the coordinator commit — the single commit point)
#   resolve  = a crashed coordinator leaves prepared commits in-doubt;
#              recover() links {"decision": abort} (presumed abort,
#              exactly pg_dist_transaction resolution)
#
# Readers skip prepared commits until their decision says commit, so a
# transaction is visible everywhere or nowhere; writers refuse to build
# past an in-doubt head (TxTable._check_head_decided).


class TransactionAborted(RuntimeError):
    pass


class _CoordinatorCrash(RuntimeError):
    """Test-only crash simulation: propagates WITHOUT writing an
    abort decision — exactly what a real coordinator death leaves."""


class MultiTableTxn:
    """Atomic writes across several TxTables.

        txn = MultiTableTxn(coordinator_dir)
        txn.merge(t1, src1, keys=["k"])
        txn.append(t2, delta)
        txn.commit()     # all tables move, or none

    Operations stage lazily; commit() runs prepare on every table,
    then claims the decision file. Any prepare failure (or crash)
    before the decision leaves every table at its old snapshot."""

    def __init__(self, coordinator_dir: str):
        os.makedirs(coordinator_dir, exist_ok=True)
        self.gtx = uuid.uuid4().hex
        self.decision_path = os.path.abspath(
            os.path.join(coordinator_dir, f"{self.gtx}.decision.json")
        )
        self._ops: list[tuple[TxTable, str, tuple]] = []
        self._done = False

    # -- staged operations (same surface as TxTable's own writers)
    def append(self, table: TxTable, df: DataFrame) -> None:
        self._ops.append((table, "append", (df,)))

    def overwrite(self, table: TxTable, df: DataFrame) -> None:
        self._ops.append((table, "overwrite", (df,)))

    def delete_where(self, table: TxTable, predicate: str) -> None:
        self._ops.append((table, "delete", (predicate,)))

    def merge(
        self,
        table: TxTable,
        source: DataFrame,
        keys: list[str],
        when_matched: str = "update",
        insert_unmatched: bool = True,
    ) -> None:
        self._ops.append(
            (table, "merge", (source, keys, when_matched, insert_unmatched))
        )

    def restore(self, table: TxTable, version: int) -> None:
        """Stage a metadata-only reset to snapshot `version` (the
        multi-table form of TxTable.restore — restore points use it so
        the whole vector lands atomically)."""
        self._ops.append((table, "restore", (int(version),)))

    # -- internals
    def _compute(self, table: TxTable, kind: str, args: tuple,
                 cur: DataFrame) -> DataFrame:
        # (append never reaches here — it stages only its delta)
        if kind == "overwrite":
            return args[0]
        if kind == "delete":
            return cur.filter(f"NOT ({args[0]})")
        if kind == "merge":
            source, keys, when_matched, insert_unmatched = args
            kept = cur.join(source.select(*keys), keys, "left_anti")
            parts = [kept]
            if when_matched == "update":
                parts.append(source.join(cur.select(*keys), keys, "left_semi"))
            elif when_matched == "ignore":
                parts.append(cur.join(source.select(*keys), keys, "left_semi"))
            elif when_matched != "delete":
                raise ValueError(f"unknown when_matched: {when_matched!r}")
            if insert_unmatched:
                parts.append(source.join(cur.select(*keys), keys, "left_anti"))
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        raise ValueError(kind)

    def _prepare_one(self, table: TxTable, kind: str, args: tuple) -> int:
        """Worker-side PREPARE: stage files and claim the table's next
        version with a pending commit. The claim itself is atomic; a
        lost race against an ordinary writer retries on the new head."""
        for _ in range(3):
            table._check_head_decided()
            read_version, old_files, _schema = table.snapshot()
            if kind == "append":
                # append stages only the delta — no table rewrite
                add, old_files = table._write_files(args[0]), []
            elif kind == "restore":
                # metadata-only: re-reference the target snapshot's
                # files (mirrors TxTable.restore inside the 2PC)
                _v, want_files, _s = table.snapshot(args[0])
                missing = [
                    f for f in want_files
                    if not os.path.exists(os.path.join(table.path, f))
                ]
                if missing:
                    raise ValueError(
                        f"cannot restore to version {args[0]}: "
                        f"{len(missing)} data file(s) already vacuumed"
                    )
                add = [
                    {"path": f, "rows": None, "bytes": None}
                    for f in want_files
                    if f not in set(old_files)
                ]
                old_files = [
                    f for f in old_files if f not in set(want_files)
                ]
            else:
                add = table._write_files(
                    self._compute(table, kind, args, table.read(read_version))
                )
            try:
                # claim read_version+1, NOT latest+1: if any writer
                # slipped in after our snapshot, the claim must fail
                # and we recompute — else our remove list would stack
                # on a commit we never read (lost update)
                return table._commit(
                    Commit(
                        version=read_version + 1,
                        op=f"2pc-{kind}",
                        add=add,
                        remove=old_files,
                        read_version=read_version,
                        pending_txn=self.decision_path,
                    )
                )
            except FileExistsError:
                continue  # raced an ordinary writer; recompute
        raise ConcurrentWriteError(
            f"2PC prepare on {table.path} lost the commit race 3 times"
        )

    def _decide(self, decision: str) -> str:
        tmp = self.decision_path + f".tmp{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(
                {"decision": decision, "gtx": self.gtx,
                 "tables": [t.path for t, _k, _a in self._ops]},
                f,
            )
        try:
            os.link(tmp, self.decision_path)
        except FileExistsError:
            pass  # someone (recover) decided first; theirs stands
        finally:
            os.unlink(tmp)
        return txn_decision(self.decision_path)

    # -- the commit point
    def commit(self, _crash_after_prepares: int | None = None) -> str:
        """Prepare every staged op, then claim the decision.

        A prepare FAILURE with the coordinator alive immediately
        records decision=abort, releasing already-prepared tables —
        presumed-abort recovery is only for actual coordinator
        crashes (`_crash_after_prepares`, the test hook, simulates
        one by propagating without deciding)."""
        if self._done:
            raise RuntimeError("transaction already finished")
        # one prepared commit per table: a second op on the same
        # table would find its own undecided prepare at the head and
        # deadlock — stage combined ops (e.g. merge with the union)
        seen = set()
        for table, _k, _a in self._ops:
            if table.path in seen:
                raise ValueError(
                    f"multiple operations staged on {table.path}; a "
                    "table can appear once per transaction — combine "
                    "the operations"
                )
            seen.add(table.path)
        self._done = True
        n = 0
        try:
            for table, kind, args in self._ops:
                if (
                    _crash_after_prepares is not None
                    and n >= _crash_after_prepares
                ):
                    raise _CoordinatorCrash("simulated coordinator crash")
                self._prepare_one(table, kind, args)
                n += 1
        except _CoordinatorCrash:
            raise
        except BaseException:
            # coordinator alive and the outcome is known: record the
            # abort now so prepared tables unblock without recovery
            self._decide("abort")
            raise
        decided = self._decide("commit")
        if decided != "commit":
            raise TransactionAborted(
                f"transaction {self.gtx} was aborted by recovery"
            )
        return decided

    def abort(self) -> None:
        self._done = True
        self._decide("abort")

    @staticmethod
    def recover(coordinator_dir: str, tables: list[TxTable]) -> list[str]:
        """Presumed-abort resolution (↔ pg_dist_transaction recovery):
        for every in-doubt prepared commit at a table head whose
        decision file does not exist yet, write decision=abort. A
        transaction whose decision landed is left alone. Returns the
        aborted decision paths."""
        aborted = []
        pending: set[str] = set()
        for t in tables:
            for c in t._commits():
                if c.pending_txn is not None and (
                    txn_decision(c.pending_txn) is None
                ):
                    pending.add(c.pending_txn)
        for dpath in sorted(pending):
            tmp = dpath + f".tmp{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump({"decision": "abort", "recovered": True}, f)
            try:
                os.link(tmp, dpath)
                aborted.append(dpath)
            except FileExistsError:
                pass  # the coordinator's own decision won — keep it
            finally:
                os.unlink(tmp)
        return aborted


# ---------------------------------------------------------------------------
# Named cluster-wide restore points
# ---------------------------------------------------------------------------


class TxCluster:
    """Registry of TxTables + named restore points.

    ↔ reference operations/citus_create_restore_point.c:
    citus_create_restore_point('name') blocks concurrent 2PCs, then
    creates the named restore point on the coordinator and every
    worker inside ONE snapshot, so recovering all nodes to that name
    yields a transactionally consistent cluster state. The analog
    here: capture every registered table's version as one vector,
    valid only if NO table's head moved (or sat in-doubt) during the
    capture — the double-scan detects a straddling commit and
    retries, which is the same consistency contract the reference
    gets by blocking 2PCs.

    restore_to_point replays the vector through ONE MultiTableTxn
    (2PC), so a crash mid-restore leaves every table at its pre-
    restore snapshot — never half the cluster at the point and half
    after it.
    """

    def __init__(self, coordinator_dir: str):
        os.makedirs(coordinator_dir, exist_ok=True)
        self.dir = coordinator_dir
        self.tables: dict[str, TxTable] = {}

    def register(self, alias: str, table: TxTable) -> None:
        self.tables[alias] = table

    def _point_path(self, name: str) -> str:
        safe = name.replace("/", "_")
        return os.path.join(self.dir, f"{safe}.restore.json")

    def create_restore_point(self, name: str) -> dict:
        """→ the recorded manifest {name, tables: {alias: version}}."""
        if len(name.encode()) > 63:
            # PG's MAXFNAMELEN rule, which the reference inherits
            raise ValueError("restore point name is too long")
        if os.path.exists(self._point_path(name)):
            raise ValueError(f'restore point "{name}" already exists')
        for _ in range(5):
            for t in self.tables.values():
                t._check_head_decided()
            first = {a: t.latest_version() for a, t in self.tables.items()}
            second = {a: t.latest_version() for a, t in self.tables.items()}
            if first == second:
                break
        else:
            raise ConcurrentWriteError(
                "could not capture a consistent restore point: tables "
                "kept moving during 5 capture attempts"
            )
        manifest = {"name": name, "tables": first}
        tmp = self._point_path(name) + f".tmp{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, self._point_path(name))
        except FileExistsError:
            raise ValueError(f'restore point "{name}" already exists')
        finally:
            os.unlink(tmp)
        return manifest

    def restore_to_point(self, name: str) -> dict:
        """Reset every table in the manifest to its recorded version,
        atomically (one 2PC). Returns {alias: restored_to_version}."""
        path = self._point_path(name)
        if not os.path.exists(path):
            raise ValueError(f'restore point "{name}" does not exist')
        with open(path) as f:
            manifest = json.load(f)
        missing = [a for a in manifest["tables"] if a not in self.tables]
        if missing:
            raise ValueError(
                f"restore point {name!r} names unregistered tables: "
                f"{missing}"
            )
        txn = MultiTableTxn(self.dir)
        for alias, version in manifest["tables"].items():
            txn.restore(self.tables[alias], int(version))
        txn.commit()
        return dict(manifest["tables"])

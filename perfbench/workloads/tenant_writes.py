"""The write phase of tenant_mix: one client writing a hash-distributed
copy of orders.

Set-up stages the writable copy through the public session API
(``SELECT * INTO`` then ``create_distributed_table``). The client
cycles through ``insert_values`` (1 row), ``copy_csv`` (a 100-row CSV
the benchmark writes), ``update_key``, ``delete_key`` and ``merge_key``
(an upsert whose ON clause joins same-named key columns), each followed
by a point read of the keys it just wrote. The untimed warm-up runs
the first cycle; the window runs a fixed number of whole cycles
(``unit_count``): one at the benchmark's window length. Every read is checked against a
client-side model of the touched keys, and after the window the table's
row count and price sum are checked against the model.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import tempfile

from perfbench import gen, oracle, probes
from perfbench.workloads.base import Context, Op, run_op, unit_count

TABLE = "w_orders"
COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
           "o_orderdate", "o_orderpriority"]
READ_KIND = "read_after_write"
# cycles generated: far more than a window completes
STREAM_CYCLES = 500
# a cycle of five writes and their read-backs takes 6-8 s on a 4-core
# machine
CYCLE_SECONDS = 6


def _date(day: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(days=day)


def _ts_literal(day: int) -> str:
    return f"TIMESTAMP '{_date(day):%Y-%m-%d %H:%M:%S}'"


def _values(row: tuple) -> str:
    k, cust, status, price, day, prio = row
    return (f"CAST({k} AS BIGINT), CAST({cust} AS BIGINT), '{status}', "
            f"CAST({price!r} AS DOUBLE), {_ts_literal(day)}, '{prio}'")


def _model_row(row: tuple) -> tuple:
    k, cust, status, price, day, prio = row
    return (k, cust, status, price, _date(day), prio)


class WritesPhase:
    """Needs ``ctx.sess`` loaded with the corpus tables."""

    def __init__(self) -> None:
        self.model: dict[int, tuple | None] = {}
        self.count = 0
        self.total = 0.0
        self.stream: list[gen.WriteOp] = []
        self.pos = 0
        self.file_stats: list[tuple[str, int, int, int]] = []

    # -- set-up ---------------------------------------------------------
    def stage(self, ctx: Context) -> None:
        ctx.sess.sql(f"SELECT * INTO {TABLE} FROM orders").collect()
        ctx.sess.sql(
            f"SELECT create_distributed_table('{TABLE}', 'o_orderkey')"
        ).collect()

    def _load_model(self, ctx: Context) -> None:
        """Base rows of every existing key the stream touches, plus the
        table's starting row count and price sum, read from the corpus."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.stream = gen.write_stream(ctx.seed, STREAM_CYCLES)
        path = os.path.join(ctx.corpus_dir, "orders.parquet")
        t = pq.read_table(path, columns=COLUMNS)
        self.count = t.num_rows
        self.total = pc.sum(t["o_totalprice"]).as_py()
        keys = sorted({w.key for w in self.stream
                       if w.kind in ("update_key", "delete_key", "merge_key")})
        sub = t.filter(pc.is_in(t["o_orderkey"],
                                value_set=pa.array(keys, pa.int64())))
        for r in sub.to_pylist():
            self.model[r["o_orderkey"]] = tuple(r[c] for c in COLUMNS)

    # -- one write and its read-back ------------------------------------
    def _sql(self, w: gen.WriteOp, csv_path: str | None) -> str:
        if w.kind == "insert_values":
            return f"INSERT INTO {TABLE} VALUES ({_values(w.rows[0])})"
        if w.kind == "copy_csv":
            return f"COPY {TABLE} FROM '{csv_path}' WITH (FORMAT csv)"
        if w.kind == "update_key":
            return (f"UPDATE {TABLE} SET o_totalprice = o_totalprice + "
                    f"CAST({w.price!r} AS DOUBLE), o_orderstatus = 'U' "
                    f"WHERE o_orderkey = {w.key}")
        if w.kind == "delete_key":
            return f"DELETE FROM {TABLE} WHERE o_orderkey = {w.key}"
        cols = ", ".join(
            f"{v} AS {c}" for v, c in zip(_values(w.rows[0]).split(", "), COLUMNS)
        )
        return (f"MERGE INTO {TABLE} AS t USING (SELECT {cols}) AS s "
                "ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")

    def _apply(self, w: gen.WriteOp) -> list[int]:
        """Apply ``w`` to the model; returns the keys to read back."""
        if w.kind in ("insert_values", "copy_csv", "merge_key"):
            for r in w.rows:
                old = self.model.get(r[0])
                if old is None:
                    self.count += 1
                else:
                    self.total -= old[3]
                self.model[r[0]] = _model_row(r)
                self.total += r[3]
            return [r[0] for r in w.rows]
        old = self.model[w.key]
        if w.kind == "update_key":
            self.model[w.key] = old[:2] + ("U", old[3] + w.price) + old[4:]
            self.total += w.price
        else:
            self.model[w.key] = None
            self.count -= 1
            self.total -= old[3]
        return [w.key]

    def _write_csv(self, w: gen.WriteOp) -> str:
        path = os.path.join(tempfile.gettempdir(), f"perfbench_copy_{w.key}.csv")
        with open(path, "w") as f:
            for k, cust, status, price, day, prio in w.rows:
                f.write(f"{k},{cust},{status},{price!r},"
                        f"{_date(day):%Y-%m-%d %H:%M:%S},{prio}\n")
        return path

    def _cycle(self, ctx: Context, ops: list[Op]) -> None:
        for _ in gen.WRITE_KINDS:
            w = self.stream[self.pos]
            self.pos += 1
            csv_path = self._write_csv(w) if w.kind == "copy_csv" else None
            sql = self._sql(w, csv_path)
            before = self._files(ctx)

            def write(sql=sql, merge=w.kind == "merge_key"):
                df = ctx.sess.sql(sql)
                if merge:
                    # MERGE runs when the statement runs and replies
                    # with the whole target relation: its effect is
                    # checked by the read-back, not by draining it
                    return df, ([], [])
                with ctx.tracer.span("exec.collect"):
                    rows = df.collect()
                return df, (df.columns, rows)

            op = run_op(ctx, w.kind, write)
            keys = self._apply(w)
            op.df = None  # a write's plan is not a scan of interest
            ops.append(op)
            if before is not None:
                n, nbytes = probes.added_files(before, self._files(ctx))
                self.file_stats.append((w.kind, n, nbytes, len(keys)))
            ops.append(self._read_back(ctx, keys))

    def _read_back(self, ctx: Context, keys: list[int]) -> Op:
        lo, hi = min(keys), max(keys)
        pred = (f"o_orderkey = {lo}" if lo == hi
                else f"o_orderkey >= {lo} AND o_orderkey <= {hi}")
        sql = f"SELECT {', '.join(COLUMNS)} FROM {TABLE} WHERE {pred}"

        def read():
            df = ctx.sess.sql(sql)
            with ctx.tracer.span("exec.collect"):
                rows = df.collect()
            return df, (df.columns, rows)

        op = run_op(ctx, READ_KIND, read)
        if op.ok:
            want = [self.model[k] for k in keys if self.model.get(k) is not None]
            why = oracle.rows_match(oracle.canonical(*op.result),
                                    oracle.canonical(COLUMNS, want))
            if why:
                op.ok, op.error = False, f"wrong result: {why}"
        op.result = None
        return op

    def _files(self, ctx: Context) -> dict[str, int] | None:
        if not ctx.traced:
            return None
        return probes.data_files(ctx.sess.catalog.get(TABLE).path)

    # -- the run ----------------------------------------------------------
    def warmup(self, ctx: Context) -> tuple[int, int]:
        """Loads the model, then runs the stream's first cycle untimed,
        so the window's writes run on warm code paths; its writes and
        checked read-backs count as checks."""
        self._load_model(ctx)
        ops: list[Op] = []
        self._cycle(ctx, ops)
        for op in ops:
            if not op.ok:
                print(f"write warm-up {op.kind}: {op.error}")
        return len(ops), sum(not op.ok for op in ops)

    def run(self, ctx: Context, seconds: float) -> list[Op]:
        ops: list[Op] = []
        for _ in range(unit_count(seconds, CYCLE_SECONDS)):
            self._cycle(ctx, ops)
        return ops

    def verify(self, ctx: Context, ops: list[Op]) -> tuple[int, int]:
        """Final row count and price sum against the model."""
        row = ctx.sess.sql(
            f"SELECT count(*) AS n, sum(o_totalprice) AS total FROM {TABLE}"
        ).collect()[0]
        ok = row["n"] == self.count and oracle._same_value(
            float(row["total"]), self.total)
        if not ok:
            print(f"write phase final state: count {row['n']} sum "
                  f"{row['total']} != model {self.count} {self.total}")
        return 1, int(not ok)

    def op_class(self, op: Op) -> str | None:
        """Writes are the phase's end-to-end operations; its read-backs
        feed ``writes.read_after_write_ms`` only."""
        return None if op.kind == READ_KIND else "write"

    def layer_metrics(self, ctx: Context, ops: list[Op]) -> dict[str, float]:
        out = {}
        for kind in gen.WRITE_KINDS:
            lat = [op.latency for op in ops if op.kind == kind]
            out[f"writes.{kind}_ms"] = (
                statistics.median(lat) * 1000 if lat else 0.0)
        reads = [op.latency for op in ops if op.kind == READ_KIND]
        out["writes.read_after_write_ms"] = (
            statistics.median(reads) * 1000 if reads else 0.0)
        if self.file_stats:
            files = sum(s[1] for s in self.file_stats)
            nbytes = sum(s[2] for s in self.file_stats)
            rows = sum(s[3] for s in self.file_stats)
            out["writes.files_added_per_stmt"] = files / len(self.file_stats)
            out["writes.bytes_written_per_row"] = nbytes / max(rows, 1)
        out["writes.table_files_end"] = float(len(
            probes.data_files(ctx.sess.catalog.get(TABLE).path)))
        return out

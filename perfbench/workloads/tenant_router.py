"""The router phase of tenant_mix: two clients sharing one
``DistributedSession`` (set up with ``load_tables``) send statements
through ``DistributedSession.sql()`` and collect each reply before
sending the next. Keys follow a seeded Zipf distribution over the
tenants, so a few tenants are hot. After the window every statement is
replayed on DuckDB over the same parquet and the results compared.
"""

from __future__ import annotations

import statistics
import threading
import time

from perfbench import gen, oracle, probes
from perfbench.workloads.base import Context, Op, run_op

CLIENTS = 2
# untimed router traffic before the window
WARMUP_SECONDS = 4
# statements generated per client: far more than a window completes
STREAM_LEN = 5_000


class RouterPhase:
    """Needs ``ctx.sess`` loaded with the corpus tables."""

    def __init__(self) -> None:
        self.stmts: dict[int, gen.Stmt] = {}

    def _statement(self, ctx: Context, stmt: gen.Stmt):
        df = ctx.sess.sql(stmt.sql)
        with ctx.tracer.span("exec.collect"):
            rows = df.collect()
        return df, (df.columns, rows)

    def warmup(self, ctx: Context) -> tuple[int, int]:
        """The clients' traffic for ``WARMUP_SECONDS``, untimed, from
        streams of their own (client numbers below zero), so the JVM
        has compiled the router path before the window; its results
        are checked with the window's."""
        ops = self._clients(ctx, WARMUP_SECONDS, [-1 - c for c in range(CLIENTS)])
        self.verify(ctx, ops)
        for op in ops:
            if not op.ok:
                print(f"router warm-up {op.kind}: {op.error}")
        return len(ops), sum(not op.ok for op in ops)

    def run(self, ctx: Context, seconds: float) -> list[Op]:
        return self._clients(ctx, seconds, list(range(CLIENTS)))

    def _clients(self, ctx: Context, seconds: float,
                 clients: list[int]) -> list[Op]:
        streams = [gen.router_stream(ctx.seed, c, STREAM_LEN) for c in clients]
        results: list[list[Op]] = [[] for _ in clients]
        t0 = time.perf_counter()
        deadline = t0 + seconds

        def client(i: int) -> None:
            for stmt in streams[i]:
                if time.perf_counter() >= deadline:
                    return
                op = run_op(ctx, stmt.kind,
                            lambda s=stmt: self._statement(ctx, s))
                self.stmts[op.request] = stmt
                results[i].append(op)

        ticks = probes.cpu_ticks()
        threads = [threading.Thread(target=client, args=(i,), daemon=True)
                   for i in range(len(clients))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=seconds + 120)
            if t.is_alive():
                raise RuntimeError("router client did not finish")
        ops = [op for r in results for op in r]
        # the clients' statements overlap, so each one's CPU time is its
        # share of the phase's
        share = probes.busy_ms(ticks, probes.cpu_ticks()) / max(len(ops), 1)
        for op in ops:
            op.cpu_ms = share
        return ops

    def verify(self, ctx: Context, ops: list[Op]) -> tuple[int, int]:
        con = oracle.connect(ctx.corpus_dir)
        want: dict[str, tuple] = {}
        try:
            for op in ops:
                if not op.ok:
                    continue
                sql = self.stmts[op.request].sql
                if sql not in want:
                    want[sql] = oracle.duck_rows(con, sql)
                cols, rows = op.result
                why = oracle.rows_match(oracle.canonical(cols, rows), want[sql])
                if why:
                    op.ok, op.error = False, f"wrong result: {why}"
                op.result = None
        finally:
            con.close()
        return 0, 0

    def layer_metrics(self, ctx: Context, ops: list[Op]) -> dict[str, float]:
        out = {}
        for kind in gen.ROUTER_KINDS:
            lat = [op.latency for op in ops if op.kind == kind]
            out[f"router.{kind}_ms"] = (
                statistics.median(lat) * 1000 if lat else 0.0)
        return out

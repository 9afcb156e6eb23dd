"""olap_mix: one client repeating passes over a fixed set of registry
queries, each built with ``queries.QUERIES[name](spark, corpus)`` and
drained in full with ``collect()``.

The window runs a fixed number of whole passes (``unit_count``): one
at the benchmark's window length. Every run thus measures the same mix
of queries, after two untimed warm-up passes: the first pass after one
warm-up pass still runs some queries up to 1.5 times slower than later
passes do, as the JVM compiles their code. Every pass runs the queries
in the same order, because a query's cost can depend on the one before
it (warm Python workers, cached views): a seed-shuffled order adds
run-to-run spread. The workload therefore does not depend on the seed.
"""

from __future__ import annotations

import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from perfbench import oracle
from perfbench.workloads.base import Context, Op, Workload, run_op, unit_count

QUERY_NAMES = (
    "tpch_q1", "tpch_q3", "tpch_q6", "tpch_q9", "tpch_q12",
    "topn_operator", "having_filter", "dedup_exact", "minhash_lsh_pairs",
    "text_quality", "ann_cosine_topk", "sessionize_events",
    "window_running_sum",
)


class OlapMix(Workload):
    name = "olap_mix"
    # a pass of the 13 queries takes 8-10 s on a 4-core machine
    PASS_SECONDS = 9
    # one pass in each untraced window of a traced run: 26 samples, ten
    # beyond p61
    tails = {"read": (61, 26)}

    def __init__(self) -> None:
        self.expected: dict[str, tuple] = {}

    def setup(self, ctx: Context) -> None:
        from citus_spark import queries

        queries.load_views(ctx.spark, ctx.corpus_dir)

    def _query(self, ctx: Context, name: str):
        from citus_spark import queries

        with ctx.tracer.span(f"queries.build:{name}"):
            df = queries.QUERIES[name](ctx.spark, ctx.corpus_dir)
        with ctx.tracer.span(f"queries.exec:{name}"):
            rows = df.collect()
        return df, (df.columns, rows)

    def warmup(self, ctx: Context) -> tuple[int, int]:
        """Two untimed passes. The first runs two queries at a time
        while another thread computes the DuckDB oracles
        (``queries.ORACLES``), and each of its results is checked
        against its oracle; those results then check every later pass.
        The second runs as the window does, one query at a time (a
        pass run by several threads leaves the next one measurably
        colder)."""
        from citus_spark import queries

        def run_oracles() -> dict[str, tuple]:
            con = oracle.connect(ctx.corpus_dir)
            try:
                return {n: oracle.duck_rows(con, queries.ORACLES[n])
                        for n in QUERY_NAMES}
            finally:
                con.close()

        def warm(name: str):
            try:
                return self._query(ctx, name)[1]
            except Exception as e:  # counted, reported, run goes on
                return e

        t = time.perf_counter()
        with ThreadPoolExecutor(1) as duck, ThreadPoolExecutor(2) as pool:
            oracles = duck.submit(run_oracles)
            got = dict(zip(QUERY_NAMES, pool.map(warm, QUERY_NAMES)))
            expected = oracles.result()
        passes = [time.perf_counter() - t]
        failed = 0
        for name, res in got.items():
            why = (repr(res) if isinstance(res, Exception) else
                   oracle.rows_match(oracle.canonical(*res), expected[name]))
            if why:
                print(f"olap_mix warm-up {name}: {why}")
                failed += 1
            else:
                self.expected[name] = (expected[name], Counter(res[1]))
        t = time.perf_counter()
        ops = self.run(ctx, self.PASS_SECONDS)
        passes.append(time.perf_counter() - t)
        self.verify(ctx, ops)
        print("olap_mix warm-up passes: "
              + ", ".join(f"{p:.1f}" for p in passes) + " s")
        for op in ops:
            if not op.ok:
                print(f"olap_mix warm-up {op.kind}: {op.error}")
        return len(QUERY_NAMES) + len(ops), failed + sum(not op.ok for op in ops)

    def run(self, ctx: Context, seconds: float) -> list[Op]:
        return [run_op(ctx, name, lambda n=name: self._query(ctx, n))
                for _ in range(unit_count(seconds, self.PASS_SECONDS))
                for name in QUERY_NAMES]

    def verify(self, ctx: Context, ops: list[Op]) -> tuple[int, int]:
        """A timed result equal, as a multiset of rows, to the verified
        warm-up result passes; any other is compared to the oracle."""
        for op in ops:
            if not op.ok:
                continue
            cols, rows = op.result
            op.result = None
            if op.kind not in self.expected:
                op.ok, op.error = False, "no verified warm-up result"
                continue
            want, seen = self.expected[op.kind]
            if Counter(rows) == seen:
                continue
            why = oracle.rows_match(oracle.canonical(cols, rows), want)
            if why:
                op.ok, op.error = False, f"wrong result: {why}"
        return 0, 0

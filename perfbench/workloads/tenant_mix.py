"""tenant_mix: multi-tenant traffic, a router phase then a write phase,
on one ``DistributedSession`` loaded with ``load_tables``.

The phases share one Spark start and one set-up, so the benchmark can
run both kinds of tenant traffic within its time budget. They run one
after the other, never at once, so each phase's numbers come from its
own traffic alone:

- router (``RouterPhase``): two closed-loop clients send
  Zipf-keyed router statements for the window; these are the
  workload's reads.
- writes (``WritesPhase``): one closed-loop client cycles through the
  five write kinds, each followed by a read-back; the writes are the
  workload's writes.
"""

from __future__ import annotations

from perfbench import gen
from perfbench.workloads.base import Context, Op, Workload
from perfbench.workloads.tenant_router import RouterPhase
from perfbench.workloads.tenant_writes import WritesPhase


# share of the window that the router phase runs for; the write phase
# runs the cycles that fit in the rest
ROUTER_SHARE = 0.4


class TenantMix(Workload):
    name = "tenant_mix"
    # in the two untraced windows of a traced run at the benchmark's
    # window, on a 4-core machine: ~30 router statements in two 1.6 s
    # router phases, where p65 leaves 10 beyond (and still ten down to
    # 29); one write cycle each, 10 writes, too few to leave ten beyond
    # any percentile, so the write tail is the slowest write
    tails = {"read": (65, 30), "write": (100, 10)}

    def __init__(self) -> None:
        self.router = RouterPhase()
        self.writes = WritesPhase()

    def setup(self, ctx: Context) -> None:
        from citus_spark.session import DistributedSession

        with ctx.tracer.span("setup.stage_tables"):
            ctx.sess = DistributedSession(ctx.spark)
            ctx.sess.load_tables(ctx.corpus_dir)
            self.writes.stage(ctx)

    def warmup(self, ctx: Context) -> tuple[int, int]:
        ra, rf = self.router.warmup(ctx)
        wa, wf = self.writes.warmup(ctx)
        return ra + wa, rf + wf

    def run(self, ctx: Context, seconds: float) -> list[Op]:
        reads = self.router.run(ctx, seconds * ROUTER_SHARE)
        return reads + self.writes.run(ctx, seconds * (1 - ROUTER_SHARE))

    def verify(self, ctx: Context, ops: list[Op]) -> tuple[int, int]:
        ra, rf = self.router.verify(
            ctx, [op for op in ops if op.kind in gen.ROUTER_KINDS])
        wa, wf = self.writes.verify(ctx, ops)
        return ra + wa, rf + wf

    def op_class(self, op: Op) -> str | None:
        return "read" if op.kind in gen.ROUTER_KINDS else self.writes.op_class(op)

    def layer_metrics(self, ctx: Context, ops: list[Op]) -> dict[str, float]:
        return {**self.router.layer_metrics(ctx, ops),
                **self.writes.layer_metrics(ctx, ops)}

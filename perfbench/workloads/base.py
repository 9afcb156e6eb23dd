"""What every workload shares: the run context, the operation record
and the timed-operation helper."""

from __future__ import annotations

import itertools
import threading
import time
import traceback
from dataclasses import dataclass, field

from perfbench import probes
from perfbench.trace import NullTracer, Tracer


@dataclass
class Op:
    """One client operation of the timed window."""

    kind: str
    latency: float  # seconds, as the client saw it
    ok: bool
    request: int
    start: float = 0.0  # time.perf_counter() when it was sent
    group: str | None = None  # Spark job group (traced runs only)
    df: object = None  # the DataFrame it drained (traced runs only)
    rows: int = 0
    result: object = None  # (columns, rows), for deferred checks
    error: str | None = None
    cpu_ms: float = 0.0  # the machine's CPU time over it (probes.busy_ms)


@dataclass
class Context:
    corpus_dir: str
    seed: int
    tracer: Tracer = field(default_factory=NullTracer)
    spark: object = None
    sess: object = None  # DistributedSession, where the workload has one
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @property
    def traced(self) -> bool:
        return self.tracer.recording

    def next_request(self) -> int:
        with self._lock:
            return next(self._ids)


def run_op(ctx: Context, kind: str, fn) -> Op:
    """Time ``fn()`` (which runs one statement and drains its reply,
    returning ``(df, (columns, rows))``) as one client operation, in
    wall time and in the machine's CPU time. In a traced run
    the operation gets its own Spark job group and its spans share one
    request id. An exception is recorded as a failed operation."""
    rid = ctx.next_request()
    group = None
    if ctx.traced:
        group = f"perfbench-{rid}"
        ctx.spark.sparkContext.setJobGroup(group, kind)
    ticks = probes.cpu_ticks()
    t0 = time.perf_counter()
    try:
        with ctx.tracer.request(rid), ctx.tracer.span(f"op:{kind}"):
            df, result = fn()
        lat = time.perf_counter() - t0
        cpu_ms = probes.busy_ms(ticks, probes.cpu_ticks())
    except Exception as e:  # a failed statement is a measured outcome
        lat = time.perf_counter() - t0
        return Op(kind, lat, False, rid, t0, group,
                  error="".join(traceback.format_exception_only(e)).strip(),
                  cpu_ms=probes.busy_ms(ticks, probes.cpu_ticks()))
    finally:
        if group is not None:
            # the group is a property of this thread: later jobs (an
            # untraced window, the checks) must not be counted in it
            ctx.spark.sparkContext._jsc.clearJobGroup()
    return Op(kind, lat, True, rid, t0, group,
              df=df if ctx.traced else None, rows=len(result[1]),
              result=result, cpu_ms=cpu_ms)


def unit_count(seconds: float, unit_seconds: float) -> int:
    """Whole units (passes or cycles of a workload) a window of
    ``seconds`` runs, given the nominal length of one unit: at least
    one. The count depends on the window length alone, so every run at
    the same ``--seconds`` does the same work, whatever the machine's
    speed."""
    return max(1, round(seconds / unit_seconds))


class Workload:
    """A workload: ``setup`` runs once per set-up round on a fresh
    Spark session, ``warmup`` once before the windows, ``run`` for each
    window, ``verify`` after them.

    ``op_class`` sorts the window's operations into ``"read"`` and
    ``"write"``, or None for an operation that only feeds a per-layer
    metric. ``tails`` maps each class to the fixed percentile of its
    wall-clock tail and to the samples of that class that the two
    untraced windows of a traced run (which the wall-clock metrics come
    from) yield at the benchmark's window length on a 4-core machine,
    recorded so that a run can report how far its count has moved."""

    name: str = ""
    tails: dict[str, tuple[int, int]] = {}

    def setup(self, ctx: Context) -> None:
        raise NotImplementedError

    def warmup(self, ctx: Context) -> tuple[int, int]:
        """Untimed preparation; returns (attempted, failed) checks."""
        return 0, 0

    def run(self, ctx: Context, seconds: float) -> list[Op]:
        """The timed window's operations."""
        raise NotImplementedError

    def verify(self, ctx: Context, ops: list[Op]) -> tuple[int, int]:
        """Check the window's outputs; marks wrong results failed and
        returns (extra attempted, extra failed) for checks that are
        not window operations."""
        return 0, 0

    def op_class(self, op: Op) -> str | None:
        return "read"

    def layer_metrics(self, ctx: Context, ops: list[Op]) -> dict[str, float]:
        """Workload-specific per-layer metrics of a traced run."""
        return {}

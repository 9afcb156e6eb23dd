"""One benchmark run: pin the environment, set up, warm up, measure,
check, report.

Every run starts from the same state. The per-run directory
``.perfbench/runs/<pid>`` of the checkout holds ``TMPDIR``, the Spark
local dirs, the JVM's temp dir and the SQL warehouse, and is deleted
when the run ends, so the program rebuilds its fan-out cache, package
zip and staged tables on every run and charges them to ``setup_s``.
Set-up runs ``SETUP_ROUNDS`` times, each on a fresh Spark session and a
fresh temp directory, and ``setup_s`` is the median round (the first
round also starts the JVM, so a change to the launch shows too).

Before set-up and before each window the run asks the kernel to write
back every dirty page (``os.sync``), so no write-back of an earlier run
or of set-up lands in a window.

The end-to-end metrics are CPU time: the machine's busy CPU time
(``probes.busy_ms``) per set-up round and per operation. On a shared
host the wall time of the same run swings with the host's load: with
the host stealing 0-25% of the CPU time, the wall time of a window
varied by up to 2x between runs while its CPU time varied by less than
a fifth. Wall-clock latencies and rates are reported too, per-layer.

The untraced run (``--trace 0``) reports the end-to-end metrics. The
traced run (``--trace 1``) runs three windows, each a third as long,
in one process: unpatched, with spans around every call into the
program's layers (see ``install_spans``), and unpatched again. It
reports the per-layer metrics of the traced window, with exact
execution counts, the wall-clock metrics of the two untraced windows,
and the tracing overhead as the traced window's ``read_cpu_ms``
against the untraced windows'; it writes its spans to
``.perfbench/traces/``. Each run also prints every phase's wall time
with the machine's busy, iowait and steal shares of CPU time in it, to
tell a slow program from a busy host.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from perfbench import corpus, probes, summary, trace
from perfbench.workloads import WORKLOADS
from perfbench.workloads.base import Context, Op

SETUP_ROUNDS = 2
# the end-to-end metrics of an untraced run, in BENCHMARK.json's order
END_TO_END = ("setup_s", "op_cpu_ms", "read_cpu_ms")
# wall-clock metrics: end-to-end in kind, but reported per-layer (from
# a traced run's untraced windows), because on a shared host they
# swing with its load by more than any regression bound
WALL = ("wall.setup_s", "wall.op_p50_ms", "wall.op_tail_ms", "wall.ops_per_s",
        "wall.read_p50_ms", "wall.read_tail_ms", "wall.reads_per_s")
# per-layer metrics of a traced run that the harness itself measures
RUN_LEVEL = (*WALL, "failed_ratio", "peak_rss_mb", "trace.overhead_pct",
             "machine.steal_pct")
# driver JVM heap: fixed so runs compare, and well below the RAM of a
# small machine (the engine's default asks for 48g)
DRIVER_MEM_MB = 4096


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_mem() -> str:
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{min(DRIVER_MEM_MB, total_kb // 1024 // 2)}m"


def pin_environment(run_dir: str) -> dict[str, str]:
    """Environment every process of the run inherits; set before the
    JVM starts."""
    dirs = {k: os.path.join(run_dir, k)
            for k in ("tmp", "spark-local", "jvm-tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = {
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={dirs["jvm-tmp"]} '
            f'-XX:-UsePerfData" --conf spark.sql.warehouse.dir='
            f'{dirs["warehouse"]} pyspark-shell'
        ),
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    tempfile.tempdir = None
    return dict(os.environ)


def fresh_tempdir(run_dir: str, label: str) -> None:
    """Point the program's temp files (``tempfile.gettempdir()``) at an
    empty directory."""
    d = os.path.join(run_dir, label)
    os.makedirs(d, exist_ok=True)
    tempfile.tempdir = d


@contextlib.contextmanager
def _phase(phases: dict, name: str):
    """Record a phase's wall time and the machine's CPU shares in it."""
    t, ticks = time.perf_counter(), probes.cpu_ticks()
    yield
    phases[name] = (time.perf_counter() - t,
                    probes.cpu_shares(ticks, probes.cpu_ticks()))


def install_spans(tracer: trace.Tracer) -> None:
    """Wrap the public entry points of each layer the runs go through.
    Missing attributes are skipped, so the benchmark keeps running when
    the program renames an internal function."""
    import pyspark.sql
    from pyspark.sql.readwriter import DataFrameWriter

    import citus_spark.plans
    import citus_spark.queries
    import citus_spark.sources
    from citus_spark import stats
    from citus_spark.session import DistributedSession

    tracer.patch(DistributedSession, "sql", "session.sql")
    tracer.patch(stats.StatStatements, "record", "stats.record")
    tracer.patch(pyspark.sql.SparkSession, "sql", "spark.sql")
    tracer.patch(DataFrameWriter, "parquet", "spark.write")
    tracer.patch(citus_spark.queries, "load_views", "queries.load_views")
    tracer.patch(citus_spark.queries, "_fanout_cache", "setup.fanout_build")
    import importlib
    import pkgutil

    for pkg, layer in ((citus_spark.plans, "plans"),
                       (citus_spark.sources, "sources")):
        for m in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{m.name}")
            tracer.patch_module_functions(mod, layer)


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_spark(spark) -> None:
    if spark is not None:
        spark.stop()


def shutdown_jvm() -> None:
    """Stop the JVM the run started and wait until it has exited (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    proc = jvm_process()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


class Run:
    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 traced: bool) -> None:
        self.root = root
        self.state_dir = os.path.join(root, ".perfbench")
        self.run_dir = os.path.join(self.state_dir, "runs", str(os.getpid()))
        self.workload = WORKLOADS[workload]()
        self.seconds = seconds
        self.seed = seed
        self.tracer = trace.Tracer() if traced else trace.NullTracer()

    # ------------------------------------------------------------------
    def execute(self) -> dict:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        try:
            return self._execute()
        finally:
            self.tracer.unpatch_all()
            shutil.rmtree(self.run_dir, ignore_errors=True)

    def _execute(self) -> dict:
        env = pin_environment(self.run_dir)
        corpus_dir = corpus.ensure_corpus(self.state_dir, self.root, env)
        from citus_spark.session import get_spark

        traced = self.tracer.enabled
        if traced:
            install_spans(self.tracer)
        ctx = Context(corpus_dir=corpus_dir, seed=self.seed, tracer=self.tracer)
        wl = self.workload
        # start with no dirty page of an earlier run left to write back
        os.sync()
        self.t0 = time.perf_counter()
        ticks = probes.cpu_ticks()
        setup_wall: list[float] = []
        setup_cpu: list[float] = []
        # the windows of the run; a traced run brackets its traced
        # window with two untraced ones, so drift between windows (code
        # still warming, a table growing) does not read as overhead
        labels = (("window", "traced window", "untraced window 2") if traced
                  else ("window",))
        windows: dict[str, list[Op]] = {}
        try:
            for i in range(SETUP_ROUNDS):
                stop_spark(ctx.spark)
                fresh_tempdir(self.run_dir, f"round{i}")
                t, round_ticks = time.perf_counter(), probes.cpu_ticks()
                with self.tracer.request(-(i + 1)):
                    with self.tracer.span("setup.spark_start"):
                        ctx.spark = get_spark(f"perfbench_{wl.name}")
                    wl.setup(ctx)
                setup_wall.append(time.perf_counter() - t)
                setup_cpu.append(
                    probes.busy_ms(round_ticks, probes.cpu_ticks()) / 1000)
            phases = {"setup": (time.perf_counter() - self.t0,
                                probes.cpu_shares(ticks, probes.cpu_ticks()))}
            # the warm-up and the untraced windows run unpatched
            self.tracer.unpatch_all()
            self.tracer.recording = False
            with _phase(phases, "warm-up"):
                attempted, failed = wl.warmup(ctx)
            # a traced run's three windows share the length of one
            seconds = self.seconds / len(labels)
            window_ticks = []
            for label in labels:
                # the kernel writes back set-up's and warm-up's files
                # now, not in the middle of the window
                os.sync()
                if label == "traced window":
                    install_spans(self.tracer)
                    self.tracer.recording = True
                with _phase(phases, label):
                    before = probes.cpu_ticks()
                    windows[label] = wl.run(ctx, seconds)
                    window_ticks.append((before, probes.cpu_ticks()))
                self.tracer.recording = False
                self.tracer.unpatch_all()
            all_ops = [op for ops in windows.values() for op in ops]
            with _phase(phases, "check"):
                more_attempted, more_failed = wl.verify(ctx, all_ops)
            jvm = jvm_process()
            rss = probes.peak_rss_mb([os.getpid()] + ([jvm.pid] if jvm else []))
            if traced:
                from perfbench import layers

                layers_out = layers.collect(self, ctx, windows["traced window"])
        finally:
            stop_spark(ctx.spark)
            shutdown_jvm()
        attempted += more_attempted + len(all_ops)
        failed += more_failed + sum(not op.ok for op in all_ops)
        for op in all_ops:
            if not op.ok:
                print(f"failed {op.kind}: {op.error}")
        print(f"{wl.name}: set-up rounds "
              + ", ".join(f"{w:.2f} s ({c:.2f} CPU-s)"
                          for w, c in zip(setup_wall, setup_cpu)))
        for name, (elapsed, shares) in phases.items():
            print(f"  {name:<17} {elapsed:6.1f} s  machine CPU: {shares}")
        setup = {"setup_s": (statistics.median(setup_cpu), "s"),
                 "wall.setup_s": (statistics.median(setup_wall), "s")}
        if not traced:
            out = {**setup, **self._window_metrics("window", [windows["window"]])}
            metrics = {k: out[k] for k in END_TO_END}
        else:
            untraced = [windows["window"], windows["untraced window 2"]]
            out = {**setup,
                   **self._window_metrics("untraced windows", untraced)}
            with_spans = self._window_metrics(
                "traced window", [windows["traced window"]])["read_cpu_ms"][0]
            base = out["read_cpu_ms"][0]
            print(f"tracing overhead: read_cpu_ms {with_spans:.3f} traced vs "
                  f"{base:.3f} in the untraced windows around it")
            steal = [probes.steal_share(a, b) for a, b in window_ticks]
            metrics = {
                **layers_out,
                **{k: out[k] for k in WALL},
                "trace.overhead_pct": ((with_spans / base - 1) * 100, "%"),
                "failed_ratio": (failed / max(attempted, 1), "ratio"),
                "peak_rss_mb": (rss, "MB"),
                "machine.steal_pct": (100 * statistics.mean(steal), "%"),
            }
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _window_metrics(self, label: str,
                        windows: list[list[Op]]) -> dict[str, tuple[float, str]]:
        """Metrics of the operations of one or more windows. ``read_*``
        cover the workload's reads; ``op_*`` cover its writes or, on a
        workload that only reads, its reads. ``*_cpu_ms`` is the
        machine's CPU time per operation of the class; the wall-clock
        ``wall.*`` are latency percentiles and a rate: the operations of
        the class over the wall time from the first one's start to the
        last one's end in each window, summed over the windows."""
        wl = self.workload
        ops = [op for w in windows for op in w]
        by_class: dict[str, list[Op]] = {}
        for op in ops:
            by_class.setdefault(wl.op_class(op), []).append(op)
        classes = {"op": "write" if "write" in by_class else "read",
                   "read": "read"}
        print(f"{label}:")
        out = {}
        for prefix, cls in classes.items():
            sample = by_class[cls]
            lat = [op.latency for op in sample]
            tail, recorded = wl.tails[cls]
            span = 0.0
            for w in windows:
                mine = [op for op in w if wl.op_class(op) == cls]
                span += (max(op.start + op.latency for op in mine)
                         - min(op.start for op in mine))
            print(f"  {prefix} ({cls}s): {len(lat)} samples (recorded: "
                  f"{recorded}), tail p{tail} with "
                  f"{summary.samples_beyond(len(lat), tail)} beyond (the "
                  f"ten-beyond rule gives p{summary.tail_percentile(len(lat))}"
                  " at this count)")
            out[f"{prefix}_cpu_ms"] = (
                statistics.fmean(op.cpu_ms for op in sample), "ms")
            out[f"wall.{prefix}_p50_ms"] = (
                summary.percentile(lat, 50) * 1000, "ms")
            out[f"wall.{prefix}_tail_ms"] = (
                summary.percentile(lat, tail) * 1000, "ms")
            out[f"wall.{prefix}s_per_s"] = (len(lat) / span, "1/s")
        kinds: dict[str, list[Op]] = {}
        for op in ops:
            kinds.setdefault(op.kind, []).append(op)
        print("  per kind, median wall ms / mean CPU ms (count): " + ", ".join(
            f"{k} {statistics.median(o.latency for o in ko) * 1000:.0f}/"
            f"{statistics.fmean(o.cpu_ms for o in ko):.0f} ({len(ko)})"
            for k, ko in kinds.items()))
        for name, (value, unit) in out.items():
            print(f"  {name:<18} {value:12.4f} {unit}")
        return out

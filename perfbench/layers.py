"""Per-layer metrics of a traced run, and the trace report.

``PER_LAYER`` lists every per-layer metric ``collect`` computes, with
its unit; each traced run reports all of them, 0 where a workload does
not exercise the layer (``session.sql_ms``, ``router.*`` and ``writes.*``
on olap_mix, ``queries.build_ms.*`` on tenant_mix), plus the
run-level metrics the harness adds (``harness.RUN_LEVEL``): the
wall-clock latencies and rates, ``failed_ratio``, ``peak_rss_mb``,
``trace.overhead_pct`` and the host's ``machine.steal_pct``.

Layer times (``<layer>_ms``) are self times: the summed self time of
the layer's spans inside timed operations, divided by the number of
timed operations, so that the layers of one workload add up to its
mean operation latency.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from perfbench import gen, probes, trace
from perfbench.workloads.olap_mix import QUERY_NAMES

# layer metric -> span layer whose self time it reports
SELF_TIME_LAYERS = {
    "session.sql_ms": "session.sql",
    "plans.rewrite_ms": "plans",
    "stats.record_ms": "stats.record",
    "spark.sql_ms": "spark.sql",
    "spark.write_ms": "spark.write",
    "exec.collect_ms": "exec.collect",
}

PER_LAYER: dict[str, str] = {
    **{m: "ms" for m in SELF_TIME_LAYERS},
    **{f"queries.build_ms.{q}": "ms" for q in QUERY_NAMES},
    **{f"queries.exec_ms.{q}": "ms" for q in QUERY_NAMES},
    "queries.load_views_s": "s",
    "exec.jobs_per_stmt": "count",
    "exec.stages_per_stmt": "count",
    "exec.tasks_per_stmt": "count",
    "exec.shuffle_bytes_per_stmt": "bytes",
    "exec.failed_tasks": "count",
    "exec.files_per_stmt": "count",
    "exec.rows_scanned_per_row": "ratio",
    **{f"router.{k}_ms": "ms" for k in gen.ROUTER_KINDS},
    **{f"writes.{k}_ms": "ms" for k in gen.WRITE_KINDS},
    "writes.files_added_per_stmt": "count",
    "writes.bytes_written_per_row": "bytes",
    "writes.table_files_end": "count",
    "writes.read_after_write_ms": "ms",
    "setup.spark_start_s": "s",
    "setup.fanout_build_s": "s",
    "setup.stage_tables_s": "s",
}


def _setup_median(spans: list[trace.Span], name: str) -> float:
    """Median over set-up rounds of the summed duration of ``name``
    spans in each round (rounds are the negative request ids)."""
    per_round: dict[int, float] = defaultdict(float)
    rounds = {s.request for s in spans if s.request is not None and s.request < 0}
    for s in spans:
        if s.name == name and s.request in rounds:
            per_round[s.request] += s.duration
    return statistics.median([per_round[r] for r in rounds]) if rounds else 0.0


def collect(run, ctx, ops) -> dict[str, tuple[float, str]]:
    """The per-layer metrics of a traced window's operations ``ops``
    as name -> (value, unit); writes the trace file to
    ``.perfbench/traces``."""
    spans = list(run.tracer.spans)
    out: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    n_ops = max(len(ops), 1)

    requests = {op.request for op in ops}
    timed = [s for s in spans if s.request in requests]
    layer_self = trace.layer_self_seconds(timed)
    for metric, layer in SELF_TIME_LAYERS.items():
        out[metric] = layer_self.get(layer, 0.0) * 1000 / n_ops
    durations: dict[str, list[float]] = defaultdict(list)
    for s in timed:
        durations[s.name].append(s.duration)
    for q in QUERY_NAMES:
        for part in ("build", "exec"):
            d = durations.get(f"queries.{part}:{q}")
            if d:
                out[f"queries.{part}_ms.{q}"] = statistics.median(d) * 1000

    out["queries.load_views_s"] = _setup_median(spans, "queries.load_views")
    out["setup.spark_start_s"] = _setup_median(spans, "setup.spark_start")
    out["setup.fanout_build_s"] = _setup_median(spans, "setup.fanout_build")
    out["setup.stage_tables_s"] = _setup_median(spans, "setup.stage_tables")

    out.update(_exec_counts(ctx, ops))
    out.update(run.workload.layer_metrics(ctx, ops))
    _write_report(run, spans, timed, layer_self, n_ops)
    return {k: (v, PER_LAYER[k]) for k, v in out.items() if k in PER_LAYER}


def _exec_counts(ctx, ops) -> dict[str, float]:
    probes.wait_for_listeners(ctx.spark)
    grouped = [op for op in ops if op.group]
    totals = probes.ExecCounts()
    for op in grouped:
        c = probes.job_counts(ctx.spark, op.group)
        totals.jobs += c.jobs
        totals.stages += c.stages
        totals.tasks += c.tasks
        totals.failed_tasks += c.failed_tasks
        totals.shuffle_bytes += c.shuffle_bytes
    n = max(len(grouped), 1)
    scanned = [op for op in ops if op.ok and op.df is not None]
    files = rows_read = rows_out = 0
    for op in scanned:
        sc = probes.scan_counts(op.df)
        files += sc.files
        rows_read += sc.rows
        rows_out += op.rows
    return {
        "exec.jobs_per_stmt": totals.jobs / n,
        "exec.stages_per_stmt": totals.stages / n,
        "exec.tasks_per_stmt": totals.tasks / n,
        "exec.shuffle_bytes_per_stmt": totals.shuffle_bytes / n,
        "exec.failed_tasks": float(totals.failed_tasks),
        "exec.files_per_stmt": files / max(len(scanned), 1),
        "exec.rows_scanned_per_row": rows_read / max(rows_out, 1),
    }


def _write_report(run, spans, timed, layer_self, n_ops) -> None:
    """Print each layer's self time and write every span to
    ``.perfbench/traces/<workload>-seed<seed>.json``."""
    total = sum(layer_self.values())
    print(f"layer self time over {n_ops} timed operations "
          f"({len(timed)} spans):")
    for layer, sec in sorted(layer_self.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:<22} {sec * 1000 / n_ops:10.3f} ms/op "
              f"{100 * sec / total if total else 0:6.1f}%")
    out_dir = os.path.join(run.state_dir, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{run.workload.name}-seed{run.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": run.workload.name,
            "seed": run.seed,
            "layer_self_ms_per_op": {
                k: v * 1000 / n_ops for k, v in layer_self.items()},
            "spans": trace.span_records(spans, run.t0),
        }, f)
    print(f"spans written to {os.path.relpath(path, run.root)}")

"""Counts read from outside the program.

- Spark jobs, stages, tasks, failed tasks and shuffle bytes of one
  statement, from the job group the benchmark sets around it and the
  driver's status tracker / status store.
- Files and rows a statement scanned, from the SQL metrics of its
  executed plan (the operator walk of ``plans.explain_analyze``).
- Data files and bytes a write added, from listings of the table
  directory taken before and after it.
- The machine's CPU time counters, for the CPU time of a phase or an
  operation and for the share of time the host stole.
- Peak resident memory of this process and of the JVM it drives.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass
class ExecCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_bytes: int = 0


def job_counts(spark, group: str) -> ExecCounts:
    """Exact counts of the jobs run under job group ``group``. Call
    after ``wait_for_listeners`` so every job and stage is recorded."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = ExecCounts()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out.jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:  # skipped stage: planned, never ran
                continue
            out.stages += 1
            out.tasks += st.numTasks
            out.failed_tasks += st.numFailedTasks
            out.shuffle_bytes += _stage_shuffle_write_bytes(store, sid)
    return out


def _stage_shuffle_write_bytes(store, sid: int) -> int:
    total = 0
    it = store.stageData(sid, False, None, False, None).iterator()
    while it.hasNext():
        total += int(it.next().shuffleWriteBytes())
    return total


def wait_for_listeners(spark, timeout_ms: int = 30_000) -> None:
    """Block until the driver's listener bus has delivered every event
    posted so far, so the status tracker is complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


@dataclass
class ScanCounts:
    files: int = 0
    rows: int = 0


def scan_counts(df) -> ScanCounts:
    """Files and rows read by the file scans of ``df``'s executed plan,
    after ``df`` has been collected (its metrics hold that run)."""
    from citus_spark.plans.explain_analyze import _walk

    tree: list = []
    _walk(df._jdf.queryExecution().executedPlan(), 0, [0], tree)
    out = ScanCounts()
    for _nid, _depth, op, metrics in tree:
        if not op.startswith("Scan"):
            continue
        md = dict(metrics)
        out.files += md.get("numFiles", 0)
        out.rows += md.get("numOutputRows", 0)
    return out


def data_files(path: str) -> dict[str, int]:
    """Relative path → size of every data file under ``path``
    (checksums, markers and hidden files excluded)."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in filenames:
            if f.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, f)
            out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def added_files(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(files, bytes) present after a write that were not before it."""
    new = [name for name in after if name not in before]
    return len(new), sum(after[n] for n in new)


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (``/proc/stat``): user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


_TICK_MS = 1000 / os.sysconf("SC_CLK_TCK")


def busy_ms(before: list[int], after: list[int]) -> float:
    """CPU time, summed over the machine's CPUs, that went to work
    (user, nice, system, irq, softirq) between two ``cpu_ticks``
    readings, in milliseconds. Unlike wall time it leaves out the time
    the host gave to others (steal) and the time the work waited for a
    stalled CPU (idle), so it swings far less with the load on a shared
    host."""
    d = [b - a for a, b in zip(before, after)]
    return (d[0] + d[1] + d[2] + d[5] + d[6]) * _TICK_MS


def cpu_shares(before: list[int], after: list[int]) -> str:
    """Busy, iowait and steal shares of the machine's CPU time between
    two ``cpu_ticks`` readings: steal is time the host gave to others,
    so a run with much of it measured a slower machine."""
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d), 1)
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return (f"busy {100 * busy / total:.0f}% iowait {100 * d[4] / total:.0f}% "
            f"steal {100 * d[7] / total:.1f}%")


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the host stole between two
    ``cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024

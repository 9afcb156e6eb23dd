"""Each window runs a fixed amount of work, and the sample counts each
workload records for its tail percentile are the counts that work
yields at the benchmark's window length."""

import json
import os

from perfbench import gen
from perfbench.workloads import olap_mix, tenant_mix, tenant_writes
from perfbench.workloads.base import unit_count

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run_seconds() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def test_unit_count_rounds_and_runs_at_least_one():
    assert unit_count(18, 9) == 2
    assert unit_count(20, 9) == 2
    assert unit_count(6, 9) == 1
    assert unit_count(1, 9) == 1
    assert unit_count(27, 9) == 3


def test_olap_mix_samples_at_the_window():
    passes = unit_count(_run_seconds(), olap_mix.OlapMix.PASS_SECONDS)
    assert passes >= 1
    # the wall-clock tail comes from a traced run's two untraced windows
    traced = unit_count(_run_seconds() / 3, olap_mix.OlapMix.PASS_SECONDS)
    assert olap_mix.OlapMix.tails["read"][1] == (
        2 * traced * len(olap_mix.QUERY_NAMES))


def test_tenant_mix_writes_at_the_window():
    share = 1 - tenant_mix.ROUTER_SHARE
    assert unit_count(_run_seconds() * share, tenant_writes.CYCLE_SECONDS) >= 1
    traced = unit_count(_run_seconds() / 3 * share, tenant_writes.CYCLE_SECONDS)
    assert tenant_mix.TenantMix.tails["write"][1] == (
        2 * traced * len(gen.WRITE_KINDS))


def test_traced_windows_run_one_unit_each():
    third = _run_seconds() / 3
    assert unit_count(third, olap_mix.OlapMix.PASS_SECONDS) == 1
    assert unit_count(third * (1 - tenant_mix.ROUTER_SHARE),
                      tenant_writes.CYCLE_SECONDS) == 1

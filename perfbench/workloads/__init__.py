"""The benchmark's workloads, by name."""

from perfbench.workloads.olap_mix import OlapMix
from perfbench.workloads.tenant_mix import TenantMix

WORKLOADS = {w.name: w for w in (OlapMix, TenantMix)}

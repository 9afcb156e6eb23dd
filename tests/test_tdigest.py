"""t-digest: tail rank error must beat the KMV sample sketch's
O(1/sqrt(k)) bound at equal-or-smaller state size, under any
partitioning of the input, and merging digests must preserve the
bound (the re-aggregation contract the reference's tdigest rollup
tables rely on)."""

import numpy as np
import pytest

from citus_spark.operators.tdigest import (
    DELTA,
    _compress,
    _estimate,
    approx_quantiles_tdigest,
)
from tests.conftest import SF_SMALL

# KMV (operators/quantile_sketch.py) keeps K=2048 (hash, value) pairs:
# 4096 numbers of state, rank error ~ 1/sqrt(2048) ≈ 0.022 at any q.
# The digest at DELTA=300 keeps <= ~300 (mean, weight) pairs — under
# 1/6 the state — and must beat that bound by far at the tails.
KMV_BOUND = 1.0 / np.sqrt(2048)


def _digest_np(values: np.ndarray, n_parts: int):
    """Simulate the distributed build: per-partition partials, one
    combine — the exact partial/combine kernels the Spark path runs."""
    parts = np.array_split(values, n_parts)
    ms, ws = [], []
    for p in parts:
        m, w = _compress(p, np.ones_like(p))
        ms.append(m)
        ws.append(w)
    return _compress(np.concatenate(ms), np.concatenate(ws))


def _rank_error(values: np.ndarray, est: float, q: float) -> float:
    return abs(np.mean(values <= est) - q)


@pytest.mark.parametrize("n_parts", [1, 7, 32])
def test_tail_rank_error_beats_kmv_bound(n_parts):
    rng = np.random.default_rng(42)
    v = rng.lognormal(mean=3.0, sigma=1.5, size=200_000)
    m, w = _digest_np(v, n_parts)
    assert len(m) <= 2 * DELTA, "state must stay bounded by delta"
    for q, bound in [(0.5, 0.01), (0.9, 0.01), (0.99, 0.003), (0.999, 0.001)]:
        est = _estimate(m, w, v.min(), v.max(), q)
        err = _rank_error(v, est, q)
        assert err <= bound, f"q={q} parts={n_parts}: rank error {err}"
        # the headline property: tails far beat the equal-state KMV
        if q >= 0.99:
            assert err < KMV_BOUND / 4


def test_merge_preserves_rank_error():
    """digest(A) ⊕ digest(B) must estimate A∪B within the same bounds
    — disjoint ranges (worst case for naive merges: no overlap)."""
    rng = np.random.default_rng(7)
    a = rng.lognormal(3.0, 1.0, 120_000)
    b = rng.lognormal(6.0, 0.5, 80_000)  # disjoint-ish upper mode
    ma, wa = _digest_np(a, 8)
    mb, wb = _digest_np(b, 8)
    m, w = _compress(np.concatenate([ma, mb]), np.concatenate([wa, wb]))
    both = np.concatenate([a, b])
    for q, bound in [(0.5, 0.01), (0.99, 0.003), (0.999, 0.001)]:
        est = _estimate(m, w, both.min(), both.max(), q)
        assert _rank_error(both, est, q) <= bound


def test_spark_path_grouped_quantiles(spark):
    """End-to-end through the UDAF split on the orders fixture; every
    group's estimate must sit within one rank-granularity-adjusted
    bound of the exact quantile."""
    df = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    out = approx_quantiles_tdigest(
        df, ["o_orderpriority"], "o_totalprice", quantiles=(0.5, 0.99)
    ).collect()
    exact = {
        prio: np.sort(
            np.array(
                [
                    r.o_totalprice
                    for r in df.filter(df.o_orderpriority == prio)
                    .select("o_totalprice")
                    .collect()
                ]
            )
        )
        for prio in {r.o_orderpriority for r in out}
    }
    assert len(out) > 0
    for r in out:
        v = exact[r.o_orderpriority]
        # small fixture groups: allow rank granularity (1/n) headroom
        tol = 0.01 + 2.0 / len(v)
        assert abs(np.mean(v <= r.p50) - 0.5) <= tol
        assert abs(np.mean(v <= r.p99) - 0.99) <= tol


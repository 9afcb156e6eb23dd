"""Mergeable t-digest — tail-accurate re-aggregatable quantiles.

↔ reference tdigest extension (planner/tdigest_extension.c distributes
10 tdigest aggregate variants: worker-side tdigest(...) partials,
coordinator-side merge): rollup tables store digest VALUES that
re-aggregate at query time. The KMV sample sketch
(operators/quantile_sketch.py) has O(1/sqrt(k)) rank error everywhere;
a t-digest with the k1 scale function concentrates centroid resolution
at the distribution's tails, giving rank error that *shrinks* toward
q→0/1 — the regime (p99, p999 latencies) the reference's tdigest
users actually care about.

Design (Dunning's merging digest, vectorized):

- state = sorted centroids (mean, weight) + exact (min, max), bounded
  to ~delta entries by the scale function
      k(q) = delta/(2*pi) * asin(2q - 1)
  a cluster may only span quantile range where k changes by <= 1, so
  clusters near the median hold ~total/delta weight while clusters at
  the extreme tails hold O(1) rows;
- compression assigns each sorted point/centroid to the integer bin of
  its right-edge k value and merges within bins — one argsort + two
  bincounts, no per-row Python loop;
- merge of two digests = concatenate centroid lists + recompress: the
  same operation as building, hence associative and idempotent enough
  for arbitrary partial/combine trees (accuracy is preserved, not
  bit-equality — the property tests bound rank error, which is the
  contract tdigest itself offers).

Plugs into the generic UDAF split (operators/udaf.py — the
worker_partial_agg / coord_combine_agg shape): shuffle volume is
O(groups × delta), never O(rows).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citus_spark.operators.udaf import AggSpec, distributed_agg, group_ddl

DELTA = 300  # compression: ~DELTA centroids/group ≈ 600 doubles of state


def _k(q: np.ndarray, delta: float) -> np.ndarray:
    return delta / (2.0 * np.pi) * np.arcsin(2.0 * np.clip(q, 0.0, 1.0) - 1.0)


def _compress(
    means: np.ndarray, weights: np.ndarray, delta: float = DELTA
) -> tuple[np.ndarray, np.ndarray]:
    """Merge (mean, weight) points into <= ~delta k1-bounded centroids.
    Input need not be sorted; output is sorted by mean."""
    if len(means) == 0:
        return means.astype(np.float64), weights.astype(np.float64)
    order = np.argsort(means, kind="stable")
    m = means[order].astype(np.float64)
    w = weights[order].astype(np.float64)
    total = w.sum()
    if total <= 0:
        return m[:0], w[:0]
    # integer k-bin of each point's right-edge quantile; merging within
    # a bin keeps every cluster's k-width <= 1 (the t-digest invariant)
    qr = np.cumsum(w) / total
    bins = np.floor(_k(qr, delta) - _k(np.zeros(1), delta)[0] - 1e-12)
    new = np.empty(len(m), dtype=bool)
    new[0] = True
    new[1:] = bins[1:] != bins[:-1]
    gid = np.cumsum(new) - 1
    out_w = np.bincount(gid, weights=w)
    out_m = np.bincount(gid, weights=w * m) / out_w
    return out_m, out_w


def _estimate(
    means: np.ndarray,
    weights: np.ndarray,
    vmin: float,
    vmax: float,
    q: float,
) -> float | None:
    """Quantile from sorted centroids: linear interpolation between
    centroid centers, anchored at exact min/max for the extremes."""
    if len(means) == 0:
        return None
    total = weights.sum()
    centers = np.cumsum(weights) - weights / 2.0
    xs = np.concatenate(([0.0], centers, [total]))
    ys = np.concatenate(([vmin], means, [vmax]))
    return float(np.interp(q * total, xs, ys))


def _label(q: float) -> str:
    """0.5 → p50, 0.9 → p90, 0.99 → p99, 0.999 → p999."""
    d = str(q)[2:] or "0"
    return "p" + (d + "0" if len(d) == 1 else d)


def tdigest_spec(
    group_cols: Sequence[str],
    value_col: str = "v",
    quantiles: Sequence[float] = (0.5, 0.9, 0.99, 0.999),
    delta: float = DELTA,
    gddl: str | None = None,
) -> AggSpec:
    """`gddl`: group-column DDL (``group_ddl(df, cols)``) so non-string
    keys keep their type; defaults to all-string."""
    g = list(group_cols)
    gddl = gddl or ", ".join(f"{c} string" for c in g)
    qs = list(quantiles)

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.iloc[:1][g].copy()
        v = pdf[value_col].to_numpy(np.float64)
        v = v[~np.isnan(v)]
        m, w = _compress(v, np.ones_like(v), delta)
        out["means"] = [m.tolist()]
        out["ws"] = [w.tolist()]
        out["vmin"] = v.min() if len(v) else np.nan
        out["vmax"] = v.max() if len(v) else np.nan
        return out

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.iloc[:1][g].copy()
        m = np.concatenate([np.asarray(x, np.float64) for x in pdf["means"]])
        w = np.concatenate([np.asarray(x, np.float64) for x in pdf["ws"]])
        mm, ww = _compress(m, w, delta)
        out["means"] = [mm.tolist()]
        out["ws"] = [ww.tolist()]
        out["vmin"] = np.nanmin(pdf["vmin"].to_numpy(np.float64))
        out["vmax"] = np.nanmax(pdf["vmax"].to_numpy(np.float64))
        return out

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        for q in qs:
            pdf[_label(q)] = [
                _estimate(
                    np.asarray(m, np.float64),
                    np.asarray(w, np.float64),
                    lo,
                    hi,
                    q,
                )
                for m, w, lo, hi in zip(
                    pdf["means"], pdf["ws"], pdf["vmin"], pdf["vmax"]
                )
            ]
        return pdf[g + [_label(q) for q in qs]]

    labels = [_label(q) for q in qs]
    return AggSpec(
        partial=partial,
        combine=combine,
        final=final,
        state_schema=(
            f"{gddl}, means array<double>, ws array<double>, "
            "vmin double, vmax double"
        ),
        output_schema=f"{gddl}, " + ", ".join(f"{c} double" for c in labels),
    )


def approx_quantiles_tdigest(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99, 0.999),
    delta: float = DELTA,
) -> DataFrame:
    """One-shot grouped quantiles through the digest path."""
    g = list(group_cols)
    spec = tdigest_spec(
        g, "v", quantiles=quantiles, delta=delta, gddl=group_ddl(df, g)
    )
    src = df.select(*g, F.col(value_col).cast("double").alias("v"))
    return distributed_agg(src, g, spec)

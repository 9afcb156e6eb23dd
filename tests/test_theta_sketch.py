"""Theta sketch: NDV estimates land within KMV error bounds, and
intersection estimates track exact overlaps."""

import math

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _tokens(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    return docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )


def test_ndv_estimate_within_kmv_bounds(spark):
    from citus_spark.operators.theta_sketch import theta_ndv, theta_sketch

    toks = _tokens(spark)
    k = 256
    sk = theta_sketch(toks, ["source"], "tok", k=k)
    est = {
        r.source: r.est
        for r in sk.select(
            "source", theta_ndv(F.col("sketch"), k=k).alias("est")
        ).collect()
    }
    exact = {
        r.source: r.n
        for r in toks.groupBy("source")
        .agg(F.countDistinct("tok").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for s, n in exact.items():
        if n < k:
            assert est[s] == n, f"{s}: sub-k must be exact"
        else:
            # 5-sigma KMV bound: rel err ~ 1/sqrt(k-2)
            tol = 5.0 / math.sqrt(k - 2)
            assert abs(est[s] - n) / n < tol, (s, est[s], n)


def test_intersection_estimate_tracks_exact_overlap(spark):
    from citus_spark.operators.theta_sketch import (
        theta_intersect_ndv,
        theta_sketch,
    )

    toks = _tokens(spark)
    k = 256
    sk = theta_sketch(toks, ["source"], "tok", k=k).collect()
    by_src = {r.source: r.sketch for r in sk}
    srcs = sorted(by_src)[:2]
    a, b = srcs

    exact = (
        toks.filter(F.col("source") == a)
        .select("tok")
        .intersect(toks.filter(F.col("source") == b).select("tok"))
        .count()
    )

    pair = spark.createDataFrame(
        [(by_src[a], by_src[b])], "sa array<bigint>, sb array<bigint>"
    )
    est = pair.select(
        theta_intersect_ndv(F.col("sa"), F.col("sb"), k=k).alias("est")
    ).collect()[0].est

    # intersection error scales with the union's NDV; allow a loose
    # multiplicative band — the point is the estimator is unbiased and
    # deterministic, exact tolerance is k-dependent
    assert est > 0
    assert 0.5 * exact <= est <= 1.5 * exact, (est, exact)

"""Count-min sketch + bloom filter columns (operators/cms.py,
operators/bloom.py): one-sided estimate guarantees and no false
negatives."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_cms_estimates_upper_bound_all_users(spark):
    from citus_spark.operators.cms import cms_estimate, cms_sketch

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").select("user_id")
    sk = cms_sketch(ev, [], "user_id")
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact"))
    checked = exact.crossJoin(sk).select(
        "user_id", "exact",
        cms_estimate(F.col("sketch"), F.col("user_id")).alias("est"),
    )
    bad = checked.filter(F.col("est") < F.col("exact")).count()
    assert bad == 0  # CMS never underestimates


def test_bloom_no_false_negatives(spark):
    from citus_spark.operators.bloom import bloom_build, bloom_maybe_contains

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").select("user_id")
    # every real member answers maybe=TRUE
    blooms = bloom_build(ev, [], "user_id")
    misses = (
        ev.distinct()
        .crossJoin(blooms)
        .filter(~bloom_maybe_contains(F.col("bloom"), F.col("user_id")))
        .count()
    )
    assert misses == 0
    # a definitely-absent key is (overwhelmingly) rejected at these
    # parameters: check a batch of non-member keys has SOME rejections
    probes = spark.range(10_000_000, 10_000_200).toDF("user_id")
    rejected = (
        probes.crossJoin(blooms)
        .filter(~bloom_maybe_contains(F.col("bloom"), F.col("user_id")))
        .count()
    )
    assert rejected > 0

"""Streaming top-N rollup: the stored form is mergeable topn sketch
states, so states maintained one micro-batch at a time re-aggregate
to the same heavy hitters as a one-shot batch computation."""

from pyspark.sql import functions as F

from citus_spark.queries import normalize_events_ts
from tests.conftest import SF_SMALL


def test_topn_states_reaggregate_to_coarser_window(spark, tmp_path):
    """Stored form is sketches, not numbers: merging the hourly states
    down to one global group must equal a direct global top-k."""
    from citus_spark.operators.topn import topn, topn_extract, topn_union
    from citus_spark.streaming.topn_rollup import K, SLACK, apply_topn_batch

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").transform(
        normalize_events_ts
    )
    state = str(tmp_path / "state")
    for w in range(3):
        apply_topn_batch(spark, ev.filter(F.col("event_id") % 3 == w), state)

    states = spark.read.parquet(state).withColumn("g", F.lit(1))
    merged = topn_union(states.drop("window_start"), ["g"], K, slack=SLACK)
    got = {
        r.rank: (r.item, r.cnt)
        for r in topn_extract(merged, ["g"], K).collect()
    }
    want = {
        r.rank: (r.event_type, r.cnt)
        for r in topn(ev.withColumn("g", F.lit(1)), ["g"], "event_type", K).collect()
    }
    assert got == want

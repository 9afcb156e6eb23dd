"""Change-feed apply: the state must equal the one-shot
latest-op-per-key computation for ANY batch arrival order — the
consistency contract of a WAL-shaped CDC consumer."""

import random

from citus_spark.streaming.cdc_apply import apply_changes


def _feed(seed=5):
    """Synthetic Debezium-shaped feed: 300 keys, 1-5 ops each, global
    unique seq; ops end in delete for ~1/5 of keys."""
    rng = random.Random(seed)
    rows = []
    seq = 0
    for k in range(300):
        n_ops = rng.randint(1, 5)
        for i in range(n_ops):
            seq += 1
            if i == 0:
                op = "insert"
            elif i == n_ops - 1 and rng.random() < 0.2:
                op = "delete"
            else:
                op = "update"
            rows.append((op, seq, k, rng.randrange(1000), f"v{seq}"))
    rng.shuffle(rows)  # feed files will NOT be in seq order
    return rows


SCHEMA = "op string, seq long, k long, amount long, note string"


def test_pure_apply_is_order_insensitive(spark):
    """apply_changes composed over ANY partition of the feed equals
    one-shot application — the property that makes micro-batch
    boundaries irrelevant."""
    rows = _feed(seed=11)
    df = spark.createDataFrame(rows, SCHEMA)
    one_shot = apply_changes(None, df, ["k"])
    # split into 3 chunks applied sequentially, in shuffled order
    chunks = [rows[0::3], rows[2::3], rows[1::3]]
    state = None
    for ch in chunks:
        state = apply_changes(state, spark.createDataFrame(ch, SCHEMA), ["k"])
    a = {(r.k, r.seq, r.op) for r in one_shot.collect()}
    b = {(r.k, r.seq, r.op) for r in state.collect()}
    assert a == b


def test_parse_debezium_decodes_ops_and_tombstones(spark):
    from citus_spark.streaming.cdc_apply import apply_changes, parse_debezium

    envs = [
        ('{"op":"c","seq":1,"key":{"id":1},"after":{"v":10}}',),
        ('{"op":"u","seq":2,"key":{"id":1},"after":{"v":20}}',),
        ('{"op":"r","seq":1,"key":{"id":2},"after":{"v":5}}',),
        ('{"op":"d","seq":3,"key":{"id":2},"after":null}',),
        # out-of-order resurrect attempt: must lose to the seq-3 delete
        ('{"op":"u","seq":2,"key":{"id":2},"after":{"v":7}}',),
    ]
    df = spark.createDataFrame(envs, "envelope string")
    changes = parse_debezium(df, "envelope", "id BIGINT", "v BIGINT")
    assert changes.columns == ["op", "seq", "id", "v"]
    state = apply_changes(None, changes, keys=["id"]).collect()
    by_id = {r.id: r for r in state}
    assert by_id[1].op == "upsert" and by_id[1].v == 20 and by_id[1].seq == 2
    # delete retained as tombstone with null payload
    assert by_id[2].op == "delete" and by_id[2].v is None and by_id[2].seq == 3

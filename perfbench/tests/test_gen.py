"""The seeded generators are pure functions of the seed."""

from collections import Counter

from perfbench import corpus, gen


def test_router_stream_repeats_for_a_seed():
    a = gen.router_stream(5, 0, 300)
    assert a == gen.router_stream(5, 0, 300)
    assert a != gen.router_stream(6, 0, 300)
    # clients draw different statement sequences
    assert a != gen.router_stream(5, 1, 300)


def test_router_stream_mix_and_keys():
    stmts = gen.router_stream(1, 0, 5000)
    kinds = Counter(s.kind for s in stmts)
    # every kind equally often, in every stretch of the stream
    assert kinds == Counter({k: 1000 for k in gen.ROUTER_KINDS})
    assert Counter(s.kind for s in stmts[7:17]) == Counter(
        {k: 2 for k in gen.ROUTER_KINDS})
    for s in stmts:
        assert str(s.key) in s.sql
        assert s.sql == gen.ROUTER_SQL[s.kind].format(k=s.key)


def test_zipf_is_seeded_and_skewed():
    z = gen.Zipf(corpus.ORDER_KEYS, 3, "orders")
    rng = gen.rng_for(3, "t")
    draws = [z.draw(rng) for _ in range(20_000)]
    z2 = gen.Zipf(corpus.ORDER_KEYS, 3, "orders")
    rng2 = gen.rng_for(3, "t")
    assert draws == [z2.draw(rng2) for _ in range(20_000)]
    assert all(k in corpus.ORDER_KEYS for k in draws)
    top = Counter(draws).most_common(1)[0]
    assert top[0] == z.key_of_rank(0)
    assert top[1] > 20_000 * 0.04  # the hottest tenant is hot
    # another seed makes other tenants hot
    assert gen.Zipf(corpus.ORDER_KEYS, 4, "orders").key_of_rank(0) != top[0]


def test_zipf_rank_map_is_a_bijection():
    z = gen.Zipf(range(1000), 9, "x")
    assert sorted(z.key_of_rank(r) for r in range(1000)) == list(range(1000))


def test_write_stream_repeats_for_a_seed():
    a = gen.write_stream(2, 20)
    assert a == gen.write_stream(2, 20)
    assert a != gen.write_stream(3, 20)
    assert [w.kind for w in a[:5]] == list(gen.WRITE_KINDS)


def test_write_stream_keys():
    ops = gen.write_stream(7, 100)
    existing = [w.key for w in ops
                if w.kind in ("update_key", "delete_key")
                or (w.kind == "merge_key" and w.key in corpus.ORDER_KEYS)]
    # update/delete/merge never touch the same existing key twice
    assert len(existing) == len(set(existing))
    assert all(k in corpus.ORDER_KEYS for k in existing)
    for w in ops:
        if w.kind == "copy_csv":
            assert len(w.rows) == gen.COPY_ROWS
        if w.kind in ("insert_values", "copy_csv", "merge_key"):
            assert all(r[0] not in corpus.ORDER_KEYS or w.kind == "merge_key"
                       for r in w.rows)

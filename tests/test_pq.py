"""Product quantization (operators/pq.py): compression contract,
quantization-error monotonicity in codebook size, partitioning
determinism, and planted-neighbor recall with exact rescore."""

import numpy as np
import pytest

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def emb(spark):
    from citus_spark.queries import load_views

    load_views(spark, SF_SMALL)
    return spark.table("embeddings").select("vec_id", "embedding")


def test_encode_compression_contract(spark, emb):
    from citus_spark.operators.pq import pq_encode, pq_train

    books = pq_train(emb, m=8, k=16, sample=512)
    assert books.shape == (8, 16, 8)  # 64-dim fixture, 8 subspaces
    enc = pq_encode(emb, books)
    rows = enc.select("vec_id", "pq_code").collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert len(r.pq_code) == 8  # 8 small ints vs 64 floats stored
        assert all(0 <= c < 16 for c in r.pq_code)


def _quantization_mse(emb_rows, books):
    m, k, dsub = books.shape
    x = np.array([r.embedding for r in emb_rows], dtype=np.float64)
    err = 0.0
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        err += d2.min(axis=1).sum()
    return err / len(x)


def test_larger_codebooks_reduce_quantization_error(spark, emb):
    from citus_spark.operators.pq import pq_train

    rows = emb.collect()
    mse = [
        _quantization_mse(rows, pq_train(emb, m=8, k=k, sample=512))
        for k in (2, 8, 32)
    ]
    assert mse[0] > mse[1] > mse[2]


def test_topk_deterministic_across_partitionings(spark, emb):
    from citus_spark.operators.pq import pq_encode, pq_topk, pq_train

    books = pq_train(emb, m=8, k=16, sample=512)
    q = emb.filter("vec_id = 3").collect()[0].embedding
    a = pq_topk(pq_encode(emb.repartition(7), books), q, books, k=5).collect()
    b = pq_topk(pq_encode(emb.coalesce(1), books), q, books, k=5).collect()
    assert [(r.vec_id, round(r.dist, 9)) for r in a] == [
        (r.vec_id, round(r.dist, 9)) for r in b
    ]
    # the query vector itself is in the corpus: exact rescore must
    # rank it first at distance 0
    assert a[0].vec_id == 3 and a[0].dist == 0.0


def test_planted_neighbor_recall_with_rescore(spark):
    from citus_spark.operators.pq import pq_encode, pq_topk, pq_train

    rng = np.random.default_rng(11)
    base = rng.normal(size=(400, 64)).astype(np.float32)
    # 20 planted near-duplicates of base rows 0..19 at ids 1000+i
    noise = 0.05 * rng.normal(size=(20, 64)).astype(np.float32)
    planted = base[:20] + noise
    rows = [(int(i), [float(v) for v in base[i]]) for i in range(400)] + [
        (1000 + i, [float(v) for v in planted[i]]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    books = pq_train(df, m=8, k=16, sample=420)
    enc = pq_encode(df, books).cache()
    hits = 0
    for i in range(20):
        top = pq_topk(enc, planted[i], books, k=2, candidates=50).collect()
        # rank 1 is the planted point itself (dist 0), rank 2 its base
        assert top[0].vec_id == 1000 + i
        if top[1].vec_id == i:
            hits += 1
    enc.unpersist()
    assert hits >= 18  # ≥90% recall@planted with ADC + exact rescore


def test_adc_only_mode_orders_by_table_lookups(spark, emb):
    from citus_spark.operators.pq import pq_encode, pq_topk, pq_train

    books = pq_train(emb, m=8, k=16, sample=512)
    q = emb.filter("vec_id = 3").collect()[0].embedding
    out = pq_topk(
        pq_encode(emb, books), q, books, k=5, rescore=False
    ).collect()
    assert len(out) == 5
    assert [r.adc_dist for r in out] == sorted(r.adc_dist for r in out)

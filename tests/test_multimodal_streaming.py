"""Multimodal binary-column plumbing."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def media(spark):
    from citus_spark.operators.multimodal import media_from_documents

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    return media_from_documents(docs)


def test_media_schema(media):
    assert dict(media.dtypes)["media"] == "binary"
    assert media.count() > 0


def test_decode_image_fake(media):
    from citus_spark.operators.multimodal import decode_image

    out = decode_image(media, fake=True)
    rows = out.collect()
    assert len(rows) == media.count()
    for r in rows[:10]:
        assert 16 <= r.width < 700 and 16 <= r.height < 500 and r.channels == 3
        assert r.n_bytes > 0


def test_decode_image_real_png_roundtrip(spark):
    """The vendored PNG codec makes fake=False a REAL decode: encode
    known arrays → decode through the Spark operator → exact
    dimensions; non-PNG payloads yield NULL dims, not a crash."""
    import numpy as np

    from citus_spark.operators.imagecodec import decode_png, encode_png
    from citus_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(3)
    imgs = {
        1: rng.integers(0, 256, (24, 17, 3), dtype=np.uint8),   # RGB
        2: rng.integers(0, 256, (9, 40, 4), dtype=np.uint8),    # RGBA
        3: rng.integers(0, 256, (33, 8, 1), dtype=np.uint8),    # gray
    }
    # pure-codec roundtrip is bit-exact
    for arr in imgs.values():
        assert np.array_equal(decode_png(encode_png(arr)), arr)

    rows = [(k, bytearray(encode_png(v))) for k, v in imgs.items()]
    rows.append((4, bytearray(b"not a png at all")))
    media = spark.createDataFrame(rows, "id long, media binary")
    got = {r.id: r for r in decode_image(media, fake=False).collect()}
    for k, arr in imgs.items():
        assert (got[k].height, got[k].width, got[k].channels) == arr.shape
    assert got[4].width is None and got[4].n_bytes == 16


def test_ahash_real_path(spark):
    """Real aHash is invariant to uniform brightness shifts
    (decode-level property the fake byte hash cannot have) and flips
    few bits for a small perturbation."""
    import numpy as np

    from citus_spark.operators.imagecodec import encode_png
    from citus_spark.operators.multimodal import image_ahash

    rng = np.random.default_rng(11)
    base = rng.integers(40, 200, (32, 32, 3), dtype=np.uint8)
    brighter = np.clip(base.astype(np.int32) + 30, 0, 255).astype(np.uint8)
    perturbed = base.copy()
    perturbed[:4, :4] = 255  # one corner cell changes
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_png(base))),
            (2, bytearray(encode_png(brighter))),
            (3, bytearray(encode_png(perturbed))),
        ],
        "id long, media binary",
    )

    h = {r.id: r.phash for r in image_ahash(media, fake=False).collect()}
    assert h[1] == h[2], "uniform brightness shift must not change aHash"
    flips = bin((h[1] ^ h[3]) & ((1 << 64) - 1)).count("1")
    assert 1 <= flips <= 8, f"small perturbation flipped {flips} bits"


def test_byte_features_match_content(spark, media):
    from citus_spark.operators.multimodal import byte_features

    out = byte_features(media).orderBy("id")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").orderBy("doc_id")
    feats = out.collect()
    src = docs.select("doc_id", F.md5("text").alias("fp"), F.length("text").alias("n")).collect()
    assert len(feats) == len(src)
    for f, s in zip(feats, src):
        assert f.id == s.doc_id
        assert f.digest == s.fp  # md5 over utf-8 bytes == md5(text)
        assert f.n_bytes == s.n
        assert abs(sum(f.hist) - 1.0) < 1e-9


def test_frame_sample(media):
    from citus_spark.operators.multimodal import frame_sample

    frames = frame_sample(media, every_n=2)
    rows = frames.groupBy("id").count().collect()
    assert all(r["count"] >= 1 for r in rows)


def test_audio_features_fake(media):
    from citus_spark.operators.multimodal import audio_features

    out = audio_features(media, frame_len=64).collect()
    assert len(out) == media.count()
    for r in out:
        assert r.n_frames >= 0
        assert 0.0 <= r.zcr_mean <= 1.0
        assert r.rms_max >= r.rms_mean >= 0.0


def test_audio_features_real_rejects_non_wav(media):
    """The real path must fail loudly on payloads that are not RIFF/PCM
    (the media fixture is utf-8 text bytes) — never fall through to
    the fake kernel."""
    import pytest

    from citus_spark.operators.multimodal import audio_features

    with pytest.raises(Exception, match="not a WAV"):
        audio_features(media, fake=False).collect()


def test_image_ahash_and_banded_hamming_dedup(spark):
    """aHash: identical payloads collide exactly; the banded self-join
    finds every pair within the pigeonhole guarantee (any pair with
    < n_bands differing bits shares a band); bit_count verify is
    JVM-side."""
    from pyspark.sql import functions as F

    from citus_spark.operators.multimodal import (
        image_ahash,
        media_from_documents,
        phash_dup_candidates,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(200)
    # inject exact duplicates with new ids: 9000+k duplicates doc k
    dups = docs.filter(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 9000
    )
    media = media_from_documents(docs.unionByName(dups))
    hashed = image_ahash(media)

    h = {r.id: r.phash for r in hashed.collect()}
    for k in range(5):
        assert h[k] == h[9000 + k], "identical payloads must hash equal"

    pairs = phash_dup_candidates(hashed, max_hamming=3, n_bands=4)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    for k in range(5):
        assert got.get((k, 9000 + k)) == 0, "exact dup pair must surface"

    # pigeonhole completeness on this corpus: brute-force all pairs with
    # hamming <= 3 and confirm the banded join found every one
    import itertools

    brute = {
        (a, b): bin((h[a] ^ h[b]) & ((1 << 64) - 1)).count("1")
        for a, b in itertools.combinations(sorted(h), 2)
    }
    want = {p: d for p, d in brute.items() if d <= 3}
    assert set(got) == set(want)
    assert all(got[p] == want[p] for p in want)


def test_phash_default_bands_complete_at_boundary(spark):
    """Default n_bands must give 100% recall at exactly max_hamming —
    including the adversarial pair that defeats 4 bands at hamming 4:
    one flipped bit in each 16-bit quarter (the old default's silent
    miss). Also: random hamming-4 perturbations, and the guard that
    rejects n_bands <= max_hamming."""
    import random

    import pytest as _pytest

    from citus_spark.operators.multimodal import phash_dup_candidates

    def signed(h):
        return h - (1 << 64) if h >= 1 << 63 else h

    rng = random.Random(7)
    rows = []
    expected = set()
    # adversarial: one flip per 16-bit quarter → no shared 16-bit band
    base = rng.getrandbits(64)
    adv = base ^ (1 << 0) ^ (1 << 16) ^ (1 << 32) ^ (1 << 48)
    rows += [(0, signed(base)), (1, signed(adv))]
    expected.add((0, 1))
    # random pairs at hamming exactly 4
    for k in range(2, 40, 2):
        h0 = rng.getrandbits(64)
        h1 = h0
        for b in rng.sample(range(64), 4):
            h1 ^= 1 << b
        rows += [(k, signed(h0)), (k + 1, signed(h1))]
        expected.add((k, k + 1))

    hashed = spark.createDataFrame(rows, "id bigint, phash bigint")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_dup_candidates(hashed, max_hamming=4).collect()
    }
    missing = expected - set(got)
    assert not missing, f"default bands missed hamming-4 pairs: {missing}"
    assert all(got[p] == 4 for p in expected)

    with _pytest.raises(ValueError):
        phash_dup_candidates(hashed, max_hamming=4, n_bands=4)

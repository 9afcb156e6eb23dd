"""Keyword tagging (operators/keyword_tag.py) and zlib compression
quality (operators/compress_ratio.py) — r8 oracle candidates."""

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_tag_keywords_word_boundary(spark):
    from citus_spark.operators.keyword_tag import tag_keywords

    df = spark.createDataFrame(
        [
            (1, "Spark joins the HASH table fast"),
            (2, "hashing is not hash"),  # 'hashing' must NOT match
            (3, "no dictionary words here"),
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r.tags
        for r in tag_keywords(df, "text", ["hash", "join", "sort"]).collect()
    }
    assert out[1] == ["hash"]  # 'joins' != 'join' (word-boundary)
    assert out[2] == ["hash"]
    assert out[3] == []


def test_tag_keywords_plan_is_narrow(spark, docs):
    from citus_spark.operators.keyword_tag import tag_keywords

    out = tag_keywords(docs, "text", ["hash", "join"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # one narrow map, no shuffle


def test_compression_stats_deterministic(spark, docs):
    from citus_spark.operators.compress_ratio import compression_stats

    a = {
        r.id: (r.raw_bytes, r.compressed_bytes)
        for r in compression_stats(docs.repartition(1), "text").collect()
    }
    b = {
        r.id: (r.raw_bytes, r.compressed_bytes)
        for r in compression_stats(docs.repartition(17), "text").collect()
    }
    assert a == b and len(a) == docs.count()


def test_compression_separates_repetition(spark):
    from citus_spark.operators.compress_ratio import compression_stats

    df = spark.createDataFrame(
        [
            (1, "spam " * 200),  # pure repetition
            (2, " ".join(f"w{i}x{i * 7 % 13}" for i in range(200))),
        ],
        "doc_id int, text string",
    )
    out = {
        r.id: r.compressed_bytes / r.raw_bytes
        for r in compression_stats(df, "text").collect()
    }
    assert out[1] < 0.1 < out[2]  # boilerplate compresses far better


def test_tag_keywords_rejects_unmatchable_terms(spark):
    from citus_spark.operators.keyword_tag import tag_keywords

    df = spark.createDataFrame([(1, "x")], "doc_id int, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cannot ever match"):
        tag_keywords(df, "text", ["machine learning"])
    with _pytest.raises(ValueError, match="cannot ever match"):
        tag_keywords(df, "text", ["état"])
    with _pytest.raises(ValueError, match="inline-constant limit"):
        tag_keywords(df, "text", [f"k{i}" for i in range(20001)])
    # quotes/backslashes in terms are unmatchable too, never injected
    with _pytest.raises(ValueError, match="cannot ever match"):
        tag_keywords(df, "text", ["a'); DROP TABLE x; --"])


def test_compression_null_and_empty_text(spark):
    from citus_spark.operators.compress_ratio import compression_stats

    df = spark.createDataFrame(
        [(1, None), (2, ""),
         (3, " ".join(f"{(i * 2654435761) % 0xFFFFFF:06x}"
                       for i in range(150)))],
        "doc_id int, text string",
    )
    out = {
        r.id: (r.raw_bytes, r.compressed_bytes)
        for r in compression_stats(df, "text").collect()
    }
    assert out[1] == (0, 0) and out[2] == (0, 0)  # null == absent


def test_compression_string_id_column(spark):
    from citus_spark.operators.compress_ratio import compression_stats

    df = spark.createDataFrame(
        [("u1", "some words"), ("u2", "other words here")],
        "url string, text string",
    )
    out = compression_stats(df, "text", id_col="url").collect()
    assert {r.id for r in out} == {"u1", "u2"}

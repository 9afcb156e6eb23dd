"""Columnar storage options (sources/columnar.py ↔ reference
alter_columnar_table_set / columnar.chunk metadata): the options must
actually change the written layout — codec in the file footers, rows
per file bounded by stripe_row_limit."""

import glob

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMALL


def _orders(spark):
    return spark.read.parquet(f"{SF_SMALL}/orders.parquet")


def _footers(path):
    """{file: [(rows, codec of the first column) per row group]}, read
    from the parquet footers under `path`."""
    out = {}
    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        meta = pq.read_metadata(f)
        out[f] = [
            (meta.row_group(i).num_rows, meta.row_group(i).column(0).compression)
            for i in range(meta.num_row_groups)
        ]
    return out


def _codecs(path):
    return {c for groups in _footers(path).values() for _, c in groups}


def test_compression_codec_reaches_the_footers(spark, tmp_path):
    from citus_spark.sources.columnar import write_columnar

    path = str(tmp_path / "gz")
    write_columnar(_orders(spark), path, {"compression": "gzip"})
    assert _codecs(path) == {"GZIP"}

    path2 = str(tmp_path / "zstd")
    write_columnar(_orders(spark), path2, {"compression_level": 9})
    assert _codecs(path2) == {"ZSTD"}


def test_stripe_row_limit_bounds_rows_per_file(spark, tmp_path):
    from citus_spark.sources.columnar import write_columnar

    df = _orders(spark).coalesce(1)
    n = df.count()
    limit = max(1, n // 4)
    path = str(tmp_path / "stripes")
    write_columnar(df, path, {"stripe_row_limit": limit})
    per_file = {
        f: sum(rows for rows, _ in groups) for f, groups in _footers(path).items()
    }
    assert sum(per_file.values()) == n
    assert len(per_file) >= 4
    assert all(v <= limit for v in per_file.values())


def test_alter_columnar_table_set_catalog_and_sql_route(spark):
    from citus_spark.session import DistributedSession

    sess = DistributedSession(spark)
    sess.create_distributed_table(
        "orders_col", _orders(spark), "o_orderkey", buckets=4
    )
    opts = sess.alter_columnar_table_set(
        "orders_col", compression="gzip", chunk_group_row_limit=5000
    )
    assert opts["compression"] == "gzip"
    assert opts["chunk_group_row_limit"] == 5000
    assert opts["stripe_row_limit"] == 150_000  # default retained
    # the reference's literal SQL spelling routes to the same API
    sess.sql(
        "SELECT alter_columnar_table_set('orders_col', "
        "compression => 'zstd', compression_level => 9)"
    )
    assert sess.catalog.get("orders_col").columnar["compression"] == "zstd"
    assert sess.catalog.get("orders_col").columnar["compression_level"] == 9
    with pytest.raises(ValueError):
        sess.alter_columnar_table_set("orders_col", compression="brotli9")
    with pytest.raises(ValueError):
        sess.alter_columnar_table_set("orders_col", stripe_rows=1)


def test_options_persist_with_catalog(spark, tmp_path):
    from citus_spark.catalog import DistCatalog
    from citus_spark.session import DistributedSession

    sess = DistributedSession(spark)
    sess.create_distributed_table(
        "orders_pers", _orders(spark), "o_orderkey", buckets=4
    )
    sess.alter_columnar_table_set("orders_pers", compression="gzip")
    p = tmp_path / "cat.json"
    sess.catalog.save(p)
    loaded = DistCatalog.load(p)
    assert loaded.get("orders_pers").columnar["compression"] == "gzip"


def test_alter_table_set_access_method_materializes_options(spark, tmp_path):
    from citus_spark.session import DistributedSession

    sess = DistributedSession(spark)
    sess.create_distributed_table(
        "orders_am", _orders(spark), "o_orderkey", buckets=4
    )
    sess.alter_columnar_table_set("orders_am", compression="gzip")
    n_before = spark.table("orders_am").count()

    path = str(tmp_path / "orders_columnar")
    # the reference's literal SQL spelling
    sess.sql("SELECT alter_table_set_access_method('orders_am', 'columnar')")
    got_path = sess.catalog.get("orders_am").path
    # options reached the written files
    assert _codecs(got_path) == {"GZIP"}
    # relation unchanged, view now reads the materialized layout
    assert spark.table("orders_am").count() == n_before
    # the API form with an explicit path
    p2 = sess.alter_table_set_access_method("orders_am", path=path)
    assert p2 == path and sess.catalog.get("orders_am").path == path

    import pytest as _pytest

    with _pytest.raises(ValueError, match="heap"):
        sess.alter_table_set_access_method("orders_am", "heap")

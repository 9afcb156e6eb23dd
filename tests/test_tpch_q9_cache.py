"""q9 inlines the supplier count as a literal, cached per corpus. The
cache must notice a corpus regenerated at the same path."""

import pandas as pd


def test_q9_supplier_count_follows_a_regenerated_corpus(spark, tmp_path):
    from citus_spark.queries import load_views
    from citus_spark.queries.tpch import _supplier_count

    path = tmp_path / "supplier.parquet"
    counts = []
    for n in (10, 25):
        pd.DataFrame({"s_suppkey": range(n)}).to_parquet(path)
        # a new session registers its views again; the count cache is
        # per process and outlives it
        spark._citus_views_dir = None
        load_views(spark, str(tmp_path))
        counts.append(_supplier_count(spark, str(tmp_path)))
    assert counts == [10, 25]

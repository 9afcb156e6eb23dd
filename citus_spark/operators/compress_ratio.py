"""zlib compression-ratio quality signal — the cheap redundancy
detector pretraining pipelines run (CCNet/Gopher lineage: text that
compresses too well is repetitive boilerplate; text that barely
compresses is often binary junk or hash spam).

Spark-first mapping: zlib is stdlib and byte-deterministic for a
fixed (level, strategy), so the kernel is an Arrow-batched
``mapInPandas`` over the text column — Python, but vectorized per
batch and embarrassingly parallel (no shuffle). Output is exact
integers (compressed/raw byte counts), so results are identical on
any layout; ratios derive downstream in SQL.

Not SQL-oracle-able (no DuckDB zlib) — evidence is the pytest
contract: determinism across partitionings, known-text bounds
(repetitive text compresses far below English-like text), and
monotone behavior under duplication.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

ZLIB_LEVEL = 6  # fixed: the level is part of the determinism contract


def compression_stats(
    docs: DataFrame, text_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """→ (id, raw_bytes, compressed_bytes) per document. NULL text
    counts as zero bytes (policy: null is absent content, not the
    string 'None'); the id column keeps its own type."""
    import pandas as pd
    import zlib

    id_type = dict(docs.dtypes)[id_col]

    def kernel(batches):
        for pdf in batches:
            raw = pdf[text_col].fillna("").astype(str).str.encode("utf-8")
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "raw_bytes": raw.str.len().astype("int64"),
                    "compressed_bytes": [
                        len(zlib.compress(b, ZLIB_LEVEL)) if b else 0
                        for b in raw
                    ],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        kernel,
        schema=f"id {id_type}, raw_bytes long, compressed_bytes long",
    )

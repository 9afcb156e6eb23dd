"""Columnar storage options — the write-side half of the reference's
columnar access method.

↔ reference columnar table options (columnar/columnar_tableam.c,
alter_columnar_table_set() in columnar/columnar_customscan.c /
columnar.sql): `compression`, `compression_level`,
`chunk_group_row_limit` (default 10k rows — the min/max-skipping
granule), `stripe_row_limit` (default 150k rows — the append/rewrite
unit). The scan-side analog (chunk skipping from min/max metadata) is
plan-gated in tests/test_plan_quality.py; this module makes the WRITE
side configurable.

Mapping onto parquet, unit-for-unit:

- compression / compression_level → the parquet codec
  (`compression` write option; level via the parquet-mr codec conf).
  Same role: trades CPU for chunk bytes.
- chunk_group_row_limit → `parquet.page.row-count-limit`. A citus
  chunk group is the smallest unit with its own min/max metadata and
  the unit decompressed at once; a parquet PAGE is exactly that
  (column-index min/max per page, page-at-a-time decompression).
- stripe_row_limit → `maxRecordsPerFile`. A citus stripe is the unit
  a writer appends and a rewrite replaces; in Spark that unit is the
  FILE (task commits are per-file, compaction rewrites files).
  Parquet row groups sit between the two; their size follows
  `parquet.block.size` bytes and is deliberately left to the format
  default — at 100 TB you want the HDFS-block-aligned default, not a
  row-count override that could produce thousands of tiny row groups.

Options live in the distribution catalog (TableDist.columnar), so the
layout choice persists with the rest of the table's physical metadata
— exactly where the reference keeps it (columnar.options).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# ↔ reference defaults (columnar.sql / columnar_tableam.c GUCs)
COLUMNAR_DEFAULTS = {
    "compression": "zstd",
    "compression_level": 3,
    "chunk_group_row_limit": 10_000,
    "stripe_row_limit": 150_000,
}

_CODECS = ("none", "uncompressed", "snappy", "gzip", "zstd", "lz4")


def columnar_options(overrides: dict | None = None) -> dict:
    """Effective options = defaults overlaid with `overrides`."""
    opts = dict(COLUMNAR_DEFAULTS)
    for k, v in (overrides or {}).items():
        if k not in COLUMNAR_DEFAULTS:
            raise ValueError(f"unknown columnar option {k!r}")
        opts[k] = v
    if str(opts["compression"]).lower() not in _CODECS:
        raise ValueError(f"unsupported compression {opts['compression']!r}")
    return opts


def write_columnar(
    df: DataFrame, path: str, options: dict | None = None, mode: str = "overwrite"
) -> None:
    """Write `df` as parquet under the columnar options (see module
    docstring for the option→parquet mapping)."""
    opts = columnar_options(options)
    spark = df.sparkSession
    level_conf = "spark.hadoop.parquet.compression.codec.zstd.level"
    old_level = spark.conf.get(level_conf, None)
    try:
        if str(opts["compression"]).lower() == "zstd":
            spark.conf.set(level_conf, str(opts["compression_level"]))
        (
            df.write.mode(mode)
            .option("compression", str(opts["compression"]).lower())
            .option("maxRecordsPerFile", int(opts["stripe_row_limit"]))
            .option(
                "parquet.page.row-count-limit",
                int(opts["chunk_group_row_limit"]),
            )
            .parquet(path)
        )
    finally:
        if old_level is not None:
            spark.conf.set(level_conf, old_level)
        else:
            spark.conf.unset(level_conf)

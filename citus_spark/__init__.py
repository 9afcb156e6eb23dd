"""citus_spark — a PySpark-native distributed analytics engine.

Re-expresses the query surface of the reference distributed-PostgreSQL
engine (citusdata/citus, surveyed in SURVEY.md) as an idiomatic Spark
stack: DataFrame/SQL logical plans, Catalyst/Tungsten physical
execution, plus a thin distribution-metadata layer (colocation catalog,
reference-table broadcasting) that encodes the reference's core idea —
"what can run shard-local vs. what needs a shuffle" — in terms Spark's
`EnsureRequirements` already understands.

Design stance (SURVEY.md §0): the reference delegates row-level operator
execution to PostgreSQL on each shard; its own value-add is distribution
planning. Spark already owns shuffles, partial aggregation, broadcast
joins and columnar scans, so this package contains:

- `session`    — DistributedSession: SparkSession wrapper + catalog of
                 {table: distribution column | REFERENCE, buckets,
                 colocation group}  (↔ pg_dist_partition/pg_dist_colocation)
- `sources`    — ingest (COPY-equivalent), bucketed/partitioned writers
- `operators`  — the few operators Spark lacks natively (TopN aggregate,
                 dedup family, similarity search, text analysis)
- `functions`  — PostgreSQL-semantics helpers over pyspark.sql.functions
- `queries`    — the reference's own e2e query suite (TPC-H subset,
                 window/distinct/limit patterns) re-expressed Spark-first
- `streaming`  — micro-batch steps (the reference's "real-time
                 analytics" pattern: INSERT..SELECT ON CONFLICT rollups)
"""

from citus_spark.session import DistributedSession, get_spark

__all__ = ["DistributedSession", "get_spark"]

__version__ = "0.1.0"

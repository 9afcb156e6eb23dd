"""Streaming IVF index maintenance — incremental ANN indexing of an
embedding stream (the batch form is queries/similarity.ivf_assign /
ivf_topk; the reference has no streaming surface, SURVEY.md §2.9 —
this extends it the same way the other streaming modules do).

Shape: the index is ONE append-only parquet table partitioned by the
coarse cell (`centroid_id=<k>/`), so a probe reads only its cells'
directories — partition pruning is the nprobe. Each micro-batch
(``apply_ivf_batch``, the body of a ``foreachBatch`` sink):

1. assigns arriving vectors to their nearest fixed centroid with the
   SAME sequential-double-fold cosine the batch path uses (JVM-side,
   bit-identical decisions — streamed and batch indexes agree
   row-for-row);
2. appends (vec_id, embedding, centroid_id) under the cell partition.

A probe of the index runs the batch ivf-topk plan: pick the query's
nprobe nearest centroids, scan ONLY those partitions, exact re-score
inside. State posture at scale: the index is a DISK table —
no Spark state store, unbounded stream life; cells compact
periodically (sources/ingest.compact_table) like any hot-append
table. Centroids stay FIXED between rebuilds, exactly how IVF serves
while a new coarse quantizer trains offline (k-means lives in
operators/kmeans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from citus_spark.functions import dot_fold_sql

# the SAME coarse quantizer the batch entries use — imported, not
# re-declared, so the stream==batch contract cannot silently drift
from citus_spark.queries.similarity import N_CENTROIDS


def fixed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic coarse quantizer the batch entries use: the
    first N vectors as centroids (queries/similarity.ivf_assign)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cv"),
    )


def assign_cells(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment by cosine — the same fold/tiebreak
    as the batch ivf_assign, so stream and batch agree bit-for-bit."""
    v = vectors.select("vec_id", F.col("embedding").alias("vv"))
    dot = F.expr(dot_fold_sql("vv", "cv"))
    vnorm = F.sqrt(F.expr(dot_fold_sql("vv", "vv")))
    cnorm = F.sqrt(F.expr(dot_fold_sql("cv", "cv")))
    scored = v.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "vv", "centroid_id",
        (dot / (vnorm * cnorm)).alias("cos"),
    )
    from pyspark.sql.window import Window

    w = F.row_number().over(
        Window.partitionBy("vec_id").orderBy(
            F.desc("cos"), F.asc("centroid_id")
        )
    )
    return (
        scored.withColumn("rk", w)
        .filter("rk = 1")
        .select("vec_id", F.col("vv").alias("embedding"), "centroid_id")
    )


def apply_ivf_batch(
    spark: SparkSession,
    batch: DataFrame,
    centroids: DataFrame,
    index_path: str,
) -> None:
    """One micro-batch step (the foreachBatch body, callable in batch
    form): assign cells, append under the cell partitions."""
    assigned = assign_cells(batch, centroids)
    (
        assigned.repartition("centroid_id")
        .write.partitionBy("centroid_id")
        .mode("append")
        .parquet(index_path)
    )


def read_index(spark: SparkSession, index_path: str) -> DataFrame:
    return spark.read.parquet(index_path)

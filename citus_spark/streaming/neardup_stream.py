"""Streaming NEAR-duplicate detection — the incremental MinHash-LSH
index a continuous training-data ingest maintains (the batch form is
queries/dedup.py minhash_lsh_pairs; the reference has no streaming
surface, SURVEY.md §2.9 — this extends it the same way the other
streaming modules do).

Shape: the LSH index lives as two append-only parquet tables — band
rows (doc_id, band, bucket) and signatures (doc_id, sig) — and each
micro-batch step (``apply_neardup_batch``, the body of a
``foreachBatch`` sink):

1. computes band rows + signatures for the arriving documents
   (operators/minhash.py — the SAME expressions as the batch path, so
   streamed and batch decisions agree bit-for-bit);
2. joins the new band rows against the INDEX (earlier documents) and
   against themselves (both-new pairs within the batch) to get
   candidate pairs;
3. verifies candidates by signature-agreement Jaccard estimate
   (fraction of matching minhash slots ≥ tau — the standard sketch
   verification; no second pass over text);
4. appends the new rows to the index and emits the batch's documents
   with an ``is_neardup`` flag (true iff the document near-duplicates
   any EARLIER-ARRIVED or smaller-id-same-batch document).

State posture at scale: the index is a DISK table (like a feature
store), not in-memory streaming state — Spark's state store holds
nothing here, so the operator runs forever; the per-batch work is one
bucket-equi-join against an ever-growing but bucketed index, exactly
the batch LSH plan applied incrementally. At real scale the index
tables would be bucketed by (band, bucket) for a co-located join and
periodically compacted (sources/ingest.compact_table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from citus_spark.operators.minhash import minhash_signature

N_PERMS = 64
N_BANDS = 16
SHINGLE_K = 3
TAU = 0.5  # signature-agreement threshold


def _sig_frame(
    docs: DataFrame,
    n_perms: int = N_PERMS,
    shingle_k: int = SHINGLE_K,
    portable_hash: bool = False,
) -> DataFrame:
    return docs.select(
        F.col("doc_id").alias("_id"),
        minhash_signature(
            F.col("text"), n_perms, shingle_k, portable_hash
        ).alias("_sig"),
    )


def _band_frame(
    sig: DataFrame, n_perms: int = N_PERMS, n_bands: int = N_BANDS
) -> DataFrame:
    r = n_perms // n_bands
    return sig.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(",", F.slice(F.col("_sig"), b * r + 1, r))
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")


def _sig_agreement(a: str, b: str, n_perms: int = N_PERMS):
    """Fraction of agreeing minhash slots — the unbiased Jaccard
    estimator for two signatures."""
    return (
        F.size(
            F.filter(
                F.zip_with(F.col(a), F.col(b), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(n_perms))
    )


def apply_neardup_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    n_perms: int = N_PERMS,
    n_bands: int = N_BANDS,
    shingle_k: int = SHINGLE_K,
    tau: float = TAU,
    portable_hash: bool = False,
) -> DataFrame:
    """One micro-batch step: flag near-dups against the index and
    same-batch smaller ids, then append the batch to the index.
    Returns the flagged batch (doc_id, is_neardup).

    The parameters default to the module's streaming constants;
    `portable_hash=True` switches the shingle hash to the md5-based
    `citus_spark.functions.hash64` so an independent engine can
    re-derive every signature bit-for-bit (the oracle entry uses it —
    xxhash64 stays the production default, ~5× cheaper)."""
    if n_perms % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide n_perms={n_perms}")
    bands_path = os.path.join(index_dir, "bands")
    sigs_path = os.path.join(index_dir, "sigs")

    sig = _sig_frame(batch, n_perms, shingle_k, portable_hash).localCheckpoint(
        eager=True
    )
    bands = _band_frame(sig, n_perms, n_bands).localCheckpoint(eager=True)

    have_index = os.path.exists(os.path.join(bands_path, "_SUCCESS"))
    if have_index:
        old_bands = spark.read.parquet(bands_path)
        old_sigs = spark.read.parquet(sigs_path)
        vs_index = (
            bands.alias("n")
            .join(
                old_bands.alias("o"),
                (F.col("n.band") == F.col("o.band"))
                & (F.col("n.bucket") == F.col("o.bucket")),
            )
            .select(
                F.col("n._id").alias("new_id"),
                F.col("o._id").alias("old_id"),
            )
            .distinct()
        )
        cand = vs_index.join(
            old_sigs.select(
                F.col("_id").alias("old_id"), F.col("_sig").alias("old_sig")
            ),
            "old_id",
        )
    else:
        cand = None

    a, b = bands.alias("a"), bands.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("b._id").alias("new_id"), F.col("a._id").alias("old_id")
        )
        .distinct()
        .join(
            sig.select(
                F.col("_id").alias("old_id"), F.col("_sig").alias("old_sig")
            ),
            "old_id",
        )
    )
    cand = within if cand is None else cand.unionByName(within)

    verified = (
        cand.join(
            sig.select(F.col("_id").alias("new_id"), "_sig"), "new_id"
        )
        .filter(_sig_agreement("_sig", "old_sig", n_perms) >= tau)
        .select("new_id")
        .distinct()
    )
    flagged = (
        batch.join(
            verified.withColumnRenamed("new_id", "doc_id").withColumn(
                "is_neardup", F.lit(True)
            ),
            "doc_id",
            "left",
        )
        .withColumn("is_neardup", F.coalesce("is_neardup", F.lit(False)))
        .localCheckpoint(eager=True)  # materialize BEFORE index append
    )
    bands.write.mode("append").parquet(bands_path)
    sig.write.mode("append").parquet(sigs_path)
    return flagged

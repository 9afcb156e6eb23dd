"""ML-pipeline operator entries — the model-adjacent steps of a
training-data pipeline (quality-classifier training, embedding
whitening, drift monitoring, taxonomy tagging, redundancy screening,
streaming index maintenance) registered through the same oracle gate
as every SQL entry.

↔ reference scope: Citus users run these loops with madlib/plpython
over distributed tables (SURVEY.md §2.10); the reference's role is
the distributed aggregation underneath, which is exactly the part
each entry registers: the distributed pass is order-free int64
fixed-point (partition-proof → SQL-replayable), the control plane is
bounded d-size driver math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from citus_spark.functions import dot_fold_duck, dot_fold_sql
from citus_spark.queries import load_views, register_split

EMB_DIM = 64  # fixture embedding dimension (embeddings.parquet)


# ---------------------------------------------------------------------------
# Distributed logistic-regression training (operators/logreg.py) —
# the quality-classifier seed-fit. The entry pins n_iter=1 so the
# oracle stays transcendental-free (at w=0 the sigmoid is EXACTLY
# 0.5, so the first gradient involves only +,-,*,/ and floor —
# bit-identical in any IEEE engine; NOTES excludes exp/round-bearing
# forms from oracles). Multi-iteration training is pinned by
# tests/test_logreg_power.py against an independent replay. The
# oracle re-derives the full weight vector from the same quantized
# recurrence and re-scores the corpus with the same sequential fold —
# so the histogram pins every weight and every logit bit-for-bit.
def logreg_seed_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citus_spark.operators.logreg import train_logreg

    load_views(spark, sf_dir)
    src = spark.table("embeddings").select(
        "vec_id",
        "embedding",
        (F.col("label") % 2).cast("double").alias("y"),
    )
    w = train_logreg(src, "embedding", "y", n_iter=1, lr=0.5)
    d = len(w) - 1
    # corpus-wide scoring with the trained model — JVM-side fold, no
    # Python; the logit (monotone in the sigmoid score) keeps the
    # bucketing transcendental-free
    w_arr = "array(" + ", ".join(repr(float(v)) for v in w[:d]) + ")"
    z = F.expr(dot_fold_sql("embedding", w_arr)) + F.lit(float(w[-1]))
    return (
        src.withColumn("z", z)
        .groupBy(F.floor(F.col("z") * 1000.0).cast("long").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("vec_id").cast("long").alias("vecid_sum"),
        )
        .orderBy("bucket")
    )


_LOGREG_SCALE = 1 << 20  # = operators/logreg.SCALE

_LOGREG_ORACLE = f"""
WITH src AS (
  SELECT vec_id, embedding, CAST(label % 2 AS DOUBLE) AS y FROM embeddings
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM src
), g AS (
  -- per-coordinate quantized gradient at w = 0 (sigmoid(0) = 0.5
  -- exactly): sum of floor((x_j * (0.5 - y)) * 2^20 + 0.5)
  SELECT t.i AS i,
         CAST(sum(CAST(floor((CAST(embedding[t.i] AS DOUBLE) * (0.5 - y))
                             * {_LOGREG_SCALE}.0 + 0.5) AS BIGINT))
              AS BIGINT) AS g
  FROM src, (SELECT unnest(range(1, {EMB_DIM} + 1)) AS i) t
  GROUP BY t.i
), gb AS (
  SELECT CAST(sum(CAST(floor((0.5 - y) * {_LOGREG_SCALE}.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS g
  FROM src
), w AS (
  -- w_j = -(lr * (g_j / 2^20) / n), lr = 0.5 — the same op sequence
  -- the trainer runs, so the same float64s
  SELECT list(-(0.5 * (CAST(g.g AS DOUBLE) / {_LOGREG_SCALE}.0) / nn.n)
              ORDER BY g.i) AS wv
  FROM g, nn GROUP BY nn.n
), wb AS (
  SELECT -(0.5 * (CAST(gb.g AS DOUBLE) / {_LOGREG_SCALE}.0) / nn.n) AS b
  FROM gb, nn
), scored AS (
  SELECT s.vec_id,
         {dot_fold_duck('s.embedding', 'w.wv')} + wb.b AS z
  FROM src s, w, wb
)
SELECT CAST(floor(z * 1000.0) AS BIGINT) AS bucket,
       count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS vecid_sum
FROM scored GROUP BY 1 ORDER BY 1
"""

register_split("logreg_seed_train", logreg_seed_train, _LOGREG_ORACLE)


# ---------------------------------------------------------------------------
# Power iteration (operators/power_iteration.py) — top principal
# direction of the embedding corpus. The distributed pass (the int64
# Gram matrix) is separately oracle-checked bit-for-bit as
# embedding_gram_matrix; the iteration itself is driver-side BLAS on
# the d×d Gram, whose summation order SQL cannot replay — so this
# entry carries the eigen-contract the oracle CAN pin: the exact
# Gram trace (BIGINT, SQL-replayed), plus the defining properties of
# the returned eigenpair (unit norm, canonical sign, Rayleigh
# quotient inside [trace/d, trace], small residual, bit-identical
# rerun). tests/test_logreg_power.py pins the eigenvector itself
# against an independent dense solver.
def power_iteration_top_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    import numpy as np

    from citus_spark.operators.power_iteration import (
        distributed_gram,
        top_principal_direction,
    )

    load_views(spark, sf_dir)
    emb = spark.table("embeddings").select("embedding")
    # 400 iterations: the fixture spectrum is nearly flat (λ2/λ1 ≈
    # 0.98), so 50 iterations leave resid/λ ~ 7e-3; 400 reach ≤ 1.2e-5
    # at every SF (measured) — still trivial driver math (d×d matvec)
    v, rayleigh = top_principal_direction(emb, "embedding", n_iter=400)
    v2, r2 = top_principal_direction(emb, "embedding", n_iter=400)
    G = distributed_gram(emb, "embedding")
    trace = int(np.trace(G))
    vv = np.array(v, dtype=np.float64)
    Gv = G.astype(np.float64) @ vv
    resid = float(np.sqrt(((Gv - rayleigh * vv) ** 2).sum()))
    first_nz = next((x for x in v if x != 0.0), 1.0)
    row = (
        len(v),
        trace,
        bool(abs(math.sqrt(float((vv * vv).sum())) - 1.0) < 1e-9),
        bool(first_nz > 0.0),
        bool(trace / len(v) - 1e-6 <= rayleigh <= trace + 1e-6),
        bool(resid <= 1e-3 * max(rayleigh, 1.0)),  # measured ≤ 1.2e-5
        bool(v == v2 and rayleigh == r2),
    )
    return spark.createDataFrame(
        [row],
        "d long, gram_trace long, unit_norm boolean, "
        "sign_canonical boolean, rayleigh_bounded boolean, "
        "residual_converged boolean, rerun_bit_identical boolean",
    )


_POWER_ORACLE = f"""
WITH q AS (
  SELECT list_transform(
           embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5)
                     AS BIGINT)) AS qv
  FROM embeddings
), tr AS (
  SELECT CAST(sum(qq) AS BIGINT) AS trace FROM (
    SELECT unnest(list_transform(qv, x -> x * x)) AS qq FROM q
  )
)
SELECT CAST({EMB_DIM} AS BIGINT) AS d, trace AS gram_trace,
       TRUE AS unit_norm, TRUE AS sign_canonical,
       TRUE AS rayleigh_bounded, TRUE AS residual_converged,
       TRUE AS rerun_bit_identical
FROM tr
"""

register_split(
    "power_iteration_top_direction",
    power_iteration_top_direction,
    _POWER_ORACLE,
)


# ---------------------------------------------------------------------------
# Embedding drift monitoring (operators/drift.py) — the even/odd
# vec_id slices stand in for yesterday/today. The entry registers the
# operator's distributed pass verbatim: per-coordinate int64 moment
# sums (quantum 2^10), which are exact under any partitioning and
# SQL-replayable, plus the integer cross-difference of slice means
# (s1_a·n_b − s1_b·n_a — exact drift signal with no division).
def embedding_drift_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citus_spark.operators.drift import _moment_sums

    load_views(spark, sf_dir)
    emb = spark.table("embeddings")
    n_a, a1, a2 = _moment_sums(
        emb.filter(F.col("vec_id") % 2 == 0), "embedding"
    )
    n_b, b1, b2 = _moment_sums(
        emb.filter(F.col("vec_id") % 2 == 1), "embedding"
    )
    rows = [
        (
            i + 1,
            int(n_a),
            int(n_b),
            int(a1[i]),
            int(a2[i]),
            int(b1[i]),
            int(b2[i]),
            int(a1[i]) * int(n_b) - int(b1[i]) * int(n_a),
        )
        for i in range(len(a1))
    ]
    return spark.createDataFrame(
        rows,
        "i long, n_a long, n_b long, s1_a long, s2_a long, "
        "s1_b long, s2_b long, mean_diff_num long",
    )


_DRIFT_ORACLE = f"""
WITH t AS (
  SELECT vec_id % 2 AS sl, t.i AS i,
         CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1024.0 + 0.5)
              AS BIGINT) AS q
  FROM embeddings, (SELECT unnest(range(1, {EMB_DIM} + 1)) AS i) t
), s AS (
  SELECT sl, i, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS s1,
         CAST(sum(q * q) AS BIGINT) AS s2
  FROM t GROUP BY sl, i
)
SELECT a.i AS i, a.n AS n_a, b.n AS n_b, a.s1 AS s1_a, a.s2 AS s2_a,
       b.s1 AS s1_b, b.s2 AS s2_b,
       CAST(a.s1 * b.n - b.s1 * a.n AS BIGINT) AS mean_diff_num
FROM s a JOIN s b ON a.i = b.i AND a.sl = 0 AND b.sl = 1
ORDER BY a.i
"""

register_split(
    "embedding_drift_moments", embedding_drift_moments, _DRIFT_ORACLE
)


# ---------------------------------------------------------------------------
# Dictionary keyword tagging (operators/keyword_tag.py) — taxonomy
# terms drawn from the fixture vocabulary. The oracle replays the
# same tokenize→intersect→sort pipeline (both engines' intersects
# are set-valued, so the sorted lists agree element-for-element);
# the entry aggregates per tag so the result is scalar-typed for the
# driver's hasher.
_TAXONOMY = ["spark", "hash", "merge", "window", "vector", "customer"]


def keyword_tag_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citus_spark.operators.keyword_tag import tag_keywords

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    tagged = tag_keywords(docs, "text", _TAXONOMY)
    return (
        tagged.select("doc_id", F.explode("tags").alias("tag"))
        .groupBy("tag")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("docid_sum"),
        )
        .orderBy("tag")
    )


_KEYWORD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_sort(list_intersect(
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> ''),
           {_TAXONOMY!r})) AS tags
  FROM documents
)
SELECT tag, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS docid_sum
FROM (SELECT doc_id, unnest(tags) AS tag FROM toks)
GROUP BY tag ORDER BY tag
"""

register_split("keyword_tag_documents", keyword_tag_documents, _KEYWORD_ORACLE)


# ---------------------------------------------------------------------------
# zlib compression-ratio screening (operators/compress_ratio.py).
# zlib has no SQL analog, so the oracle pins what SQL CAN see — the
# exact per-source raw byte sums (strlen = UTF-8 bytes in both
# engines) and doc counts — while the compressed-side claims travel
# as booleans re-derived from the data: compression never expands
# past the zlib header bound, empty ⇔ zero, and the whole result is
# bit-identical when recomputed on a different partitioning (the
# determinism contract tests/test_keyword_compress.py pins on known
# texts).
def compression_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citus_spark.operators.compress_ratio import compression_stats

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    stats = compression_stats(docs, "text").withColumnRenamed("id", "doc_id")
    per_doc = docs.select("doc_id", "source").join(stats, "doc_id")
    per_src = (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("raw_bytes").cast("long").alias("raw_sum"),
            # zlib never expands a non-empty input past raw + 11-byte
            # envelope at level 6; empty inputs report 0 by policy
            F.min(
                (F.col("compressed_bytes") <= F.col("raw_bytes") + 11)
                & (
                    (F.col("compressed_bytes") > 0)
                    == (F.col("raw_bytes") > 0)
                )
            ).alias("compress_bounded"),
        )
    )
    redo = (
        docs.select("doc_id", "source").repartition(7, "doc_id")
        .join(
            compression_stats(
                docs.repartition(5, "doc_id"), "text"
            ).withColumnRenamed("id", "doc_id"),
            "doc_id",
        )
        .groupBy("source")
        .agg(F.sum("compressed_bytes").cast("long").alias("comp_sum2"))
    )
    first = (
        per_doc.groupBy("source")
        .agg(F.sum("compressed_bytes").cast("long").alias("comp_sum1"))
    )
    det = first.join(redo, "source").select(
        "source", (F.col("comp_sum1") == F.col("comp_sum2")).alias("det")
    )
    return (
        per_src.join(det, "source")
        .select(
            "source",
            "n_docs",
            "raw_sum",
            "compress_bounded",
            F.col("det").alias("deterministic_relayout"),
        )
        .orderBy("source")
    )


_COMPRESS_ORACLE = """
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN text IS NULL THEN 0 ELSE strlen(text) END)
            AS BIGINT) AS raw_sum,
       TRUE AS compress_bounded, TRUE AS deterministic_relayout
FROM documents GROUP BY source ORDER BY source
"""

register_split(
    "compression_ratio_by_source",
    compression_ratio_by_source,
    _COMPRESS_ORACLE,
)


# ---------------------------------------------------------------------------
# Streaming IVF index maintenance (streaming/ivf_stream.py) — the
# registered face is the stream≡batch contract: the index state after
# two micro-batch appends (the foreachBatch body, called in batch
# form — the same code the stream runs) must equal the one-shot batch
# assignment, which the oracle re-derives in SQL with the identical
# cosine fold. tests/test_ivf_stream.py drives the real readStream/
# writeStream path and pins stream==batch row-for-row.
def ivf_stream_index_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from citus_spark.streaming.ivf_stream import (
        apply_ivf_batch,
        fixed_centroids,
        read_index,
    )

    load_views(spark, sf_dir)
    path = tempfile.gettempdir() + "/citus_spark_ivf_stream_entry"
    shutil.rmtree(path, ignore_errors=True)
    emb = spark.table("embeddings")
    cents = fixed_centroids(spark, sf_dir)
    for half in (0, 1):  # two micro-batches
        apply_ivf_batch(
            spark,
            emb.filter(F.col("vec_id") % 2 == half),
            cents,
            path,
        )
    return (
        read_index(spark, path)
        .groupBy(F.col("centroid_id").cast("long").alias("centroid_id"))
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum("vec_id").cast("long").alias("vecid_sum"),
        )
        .orderBy("centroid_id")
    )


_IVF_STREAM_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
  WHERE vec_id < 8
), scored AS (
  SELECT e.vec_id, centroid_id,
         {dot_fold_duck('e.embedding', 'cv')}
           / (sqrt({dot_fold_duck('e.embedding', 'e.embedding')})
              * sqrt({dot_fold_duck('cv', 'cv')})) AS cos
  FROM embeddings e CROSS JOIN cents
), best AS (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, centroid_id) AS rk
  FROM scored
)
SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
       count(*) AS n_vectors, CAST(sum(vec_id) AS BIGINT) AS vecid_sum
FROM best WHERE rk = 1
GROUP BY centroid_id ORDER BY centroid_id
"""

register_split(
    "ivf_stream_index_state", ivf_stream_index_state, _IVF_STREAM_ORACLE
)

"""Product quantization (PQ) — compressed-domain ANN for corpora whose
raw vectors don't fit executor memory.

The third leg of the engine's ANN ladder (similarity.py: brute GEMM →
LSH buckets → IVF cells): PQ attacks the MEMORY axis. Each vector is
split into `m` subspaces; each subspace is vector-quantized against a
`k`-entry codebook, so a d-dim float32 vector (4·d bytes) stores as m
code indices (m bytes for k ≤ 256) — 32× compression at d=64, m=8.
Query scoring never reconstructs vectors: asymmetric distance
computation (ADC) precomputes the m×k table of squared distances from
the query's subvectors to every codebook entry, and a candidate's
score is m table lookups — one tiny gather per row, no FLOPs.
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 2011 — the technique behind FAISS's IVF-PQ.)

Scale shape: codebooks train on a bounded deterministic SAMPLE
(standard practice — FAISS trains on ~10⁵-10⁶ of the corpus), encode
is one embarrassingly-parallel Arrow pass (argmin per subspace, one
GEMM per batch), and search is scan + per-partition top-c + global
top-c — the same selection/rescore split as ann_cosine_topk, with the
scan reading CODES (m bytes/row) instead of vectors. The optional
exact rescore touches only the c survivors' raw vectors.

The reference has no vector search at all (extension surface, like
similarity.py); kept deterministic end-to-end so results are
reproducible across partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _subspaces(dim: int, m: int) -> list[tuple[int, int]]:
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    step = dim // m
    return [(j * step, (j + 1) * step) for j in range(m)]


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    iters: int = 10,
    sample: int = 4096,
):
    """Train per-subspace codebooks on a deterministic hash-ordered
    sample (bounded driver memory: sample × dim float64). Lloyd's per
    subspace with first-k-of-sample init — fully deterministic, no
    RNG. Returns an (m, k, dim/m) float64 ndarray."""
    import numpy as np

    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.abs(F.hash(F.col(id_col).cast("string"))), F.col(id_col))
        .limit(sample)
        .collect()
    )
    x = np.array([r[1] for r in rows], dtype=np.float64)
    dim = x.shape[1]
    spans = _subspaces(dim, m)
    books = np.empty((m, k, dim // m), dtype=np.float64)
    for j, (lo, hi) in enumerate(spans):
        sub = x[:, lo:hi]
        # init: first k distinct subvectors in sample order
        _, first_idx = np.unique(sub.round(9), axis=0, return_index=True)
        if len(first_idx) < k:
            raise ValueError(
                f"subspace {j}: only {len(first_idx)} distinct subvectors "
                f"in the sample, need k={k}"
            )
        cents = sub[np.sort(first_idx)[:k]].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                member = sub[assign == c]
                if len(member):
                    cents[c] = member.mean(axis=0)
        books[j] = cents
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to their per-subspace nearest-codebook indices:
    one Arrow pass, one small GEMM per (batch, subspace), no shuffle.
    Output column is array<int> of length m (values < k — byte-packed
    at a real storage layer)."""
    import numpy as np
    import pandas as pd

    books = codebooks
    m, k, dsub = books.shape
    out_cols = [c for c in df.columns] + [code_col]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"{code_col} array<int>"]
    )

    def kernel(batches):
        # ||x_sub - c||² argmin ≡ argmin(||c||² - 2·x_sub·c): one GEMM
        # per subspace, candidate norms precomputed once
        cnorm2 = [(books[j] ** 2).sum(axis=1) for j in range(m)]
        for pdf in batches:
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                sub = x[:, j * dsub : (j + 1) * dsub]
                scores = cnorm2[j][None, :] - 2.0 * (sub @ books[j].T)
                codes[:, j] = scores.argmin(axis=1)
            pdf = pdf.copy()
            pdf[code_col] = [row.tolist() for row in codes]
            yield pdf[out_cols]

    return df.mapInPandas(kernel, schema=schema)


def pq_topk(
    encoded: DataFrame,
    query_vec,
    codebooks,
    k: int = 10,
    candidates: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    rescore: bool = True,
) -> DataFrame:
    """ADC top-k: per Arrow batch the score of a row is m lookups into
    the precomputed query→codebook distance table (np.take gather, no
    arithmetic on vectors); per-batch top-`candidates` shrink to the
    GLOBAL ADC top-`candidates` (ties broken by id), and only that set
    is re-scored with exact squared L2 on its raw vectors — so the
    result is a pure function of the data (identical under any
    partitioning), and ADC error cannot cost recall unless the true
    neighbor fell outside the global candidate set. Returns
    (vec_id, adc_dist, dist) ordered ascending."""
    import numpy as np
    import pandas as pd

    books = codebooks
    m, kk, dsub = books.shape
    q = np.asarray(query_vec, dtype=np.float64)
    # lut[j, c] = ||q_sub_j - books[j, c]||²
    lut = np.stack(
        [
            ((books[j] - q[j * dsub : (j + 1) * dsub][None, :]) ** 2).sum(
                axis=1
            )
            for j in range(m)
        ]
    )

    carry_vec = rescore

    def kernel(batches):
        for pdf in batches:
            take = min(candidates, len(pdf))
            if take == 0:
                continue
            codes = np.array(pdf[code_col].tolist(), dtype=np.int64)
            # gather-sum: dist ≈ Σ_j lut[j, code_j]
            adc = lut[np.arange(m)[None, :], codes].sum(axis=1)
            # lexsort (adc primary, id secondary): rows with identical
            # PQ codes have identical adc, so an un-tiebroken cut would
            # keep a partitioning-dependent subset at the boundary
            ids = pdf[id_col].to_numpy()
            idx = np.lexsort((ids, adc))[:take]
            out = {
                id_col: pdf[id_col].to_numpy()[idx],
                "adc_dist": adc[idx],
            }
            if carry_vec:
                out[vec_col] = pdf[vec_col].iloc[idx].tolist()
            yield pd.DataFrame(out)

    schema = f"{id_col} long, adc_dist double" + (
        f", {vec_col} array<float>" if carry_vec else ""
    )
    cols = [id_col, code_col] + ([vec_col] if carry_vec else [])
    surv = (
        encoded.select(*cols)
        .mapInPandas(kernel, schema=schema)
        # per-batch survivors → one global ADC cut, partitioning-proof
        .orderBy("adc_dist", id_col)
        .limit(candidates)
    )

    if not rescore:
        return surv.orderBy("adc_dist", id_col).limit(k)

    # exact rescore of the bounded survivor set: sequential fold over
    # the raw vector (deterministic, engine-portable arithmetic)
    qlit = F.array(*[F.lit(float(v)) for v in np.asarray(query_vec)])
    diff = F.zip_with(F.col(vec_col), qlit, lambda a, b: a - b)
    dist = F.aggregate(
        diff, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
    )
    return (
        surv.withColumn("dist", dist)
        .select(id_col, "adc_dist", "dist")
        .orderBy("dist", id_col)
        .limit(k)
    )

"""Parameterized MinHash signatures for near-duplicate detection.

The oracle-checked registry entries (queries/dedup.py) use
fixture-sized constants (4 minhash slices of one md5, 2 bands) so the
DuckDB oracle can recompute them bit-for-bit. This module is the
production-parameter path: `n_perms`/`shingle_k` are arguments, so
callers can hit real recall targets — e.g. 128 perms in 16 bands of 8
gives P(candidate) = 1-(1-s^8)^16 ≈ 0.95 at Jaccard s = 0.8 (the
classic S-curve). The streaming near-dup index
(streaming/neardup_stream.py) bands and verifies these signatures.

Construction (all JVM-side expressions, no Python in the row path):

  1. one 64-bit hash per distinct word-k-gram shingle — xxhash64 by
     default (JVM-native, allocation-free, ~5× cheaper than the
     md5-based portable hash at production volume); pass
     ``portable_hash=True`` to use citus_spark.functions.hash64
     instead when a DuckDB-side recomputation must match bit-for-bit
     (the oracle-checked registry entries do their own md5 slicing);
  2. k universal-hash "permutations" h_i(x) = (a_i·x + b_i) mod p
     over the 31-bit Mersenne prime p = 2^31−1 (operands stay far
     inside 64-bit, no overflow), with (a_i, b_i) derived
     deterministically from the permutation index via md5 — re-runs
     and retries produce identical signatures;
  3. signature = array_min over the shingle hashes per permutation.

Expected cost O(n·k) signature work, identical to the reference-free
published MinHash-LSH formulation (Broder; Leskovec/Rajaraman/Ullman
ch. 3).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

from citus_spark.functions import hash64

_P31 = (1 << 31) - 1  # Mersenne prime 2^31-1


def _perm_params(n_perms: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutations:
    a ∈ [1, p), b ∈ [0, p), derived from md5 of the index."""
    out = []
    for i in range(n_perms):
        da = hashlib.md5(f"minhash:a:{i}".encode()).hexdigest()
        db = hashlib.md5(f"minhash:b:{i}".encode()).hexdigest()
        a = (int(da[:15], 16) % (_P31 - 1)) + 1
        b = int(db[:15], 16) % _P31
        out.append((a, b))
    return out


def shingles(text_col: Column, k: int = 3) -> Column:
    """Distinct word-k-gram shingles; short docs fall back to the
    whole text as a single shingle."""
    toks = F.split(text_col, " ")
    n = F.size(toks)
    sh = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )
    return F.when(n >= k, F.array_distinct(sh)).otherwise(F.array(text_col))


def minhash_signature(
    text_col: Column,
    n_perms: int = 128,
    shingle_k: int = 3,
    portable_hash: bool = False,
) -> Column:
    """Array column of `n_perms` minhash values for `text_col`."""
    base = hash64 if portable_hash else (lambda s: F.xxhash64(s))
    # pmod: xxhash64 is signed; permutation inputs must be in [0, p)
    h31 = F.transform(
        shingles(text_col, shingle_k), lambda s: F.pmod(base(s), F.lit(_P31))
    )

    # bind (a, b) via a factory — a defaulted-arg lambda would change
    # the arity F.transform sees and receive the array index instead
    def perm_min(a: int, b: int) -> Column:
        return F.array_min(F.transform(h31, lambda x: (a * x + b) % _P31))

    return F.array(*[perm_min(a, b) for a, b in _perm_params(n_perms)])

"""The benchmark corpus: where it lives and how it is built once.

The tables come from the repository's generator ``tools/gen_sf.py``
(``build_tables``) at scale factor ``SF``: the benchmark reads and
writes only inside its checkout, so it cannot use fixture corpora kept
elsewhere. Every value derives from ``xxhash64(row_id, salt)``, so the
corpus is identical on every machine and every run. Each table is
written as ONE sorted parquet file with naive microsecond timestamps,
the layout of the engine's fixture corpora (``<dir>/<table>.parquet``),
so the engine's set-up work (the fan-out cache in
``queries.load_views``) runs as it does on them.

The corpus goes to ``.perfbench/data/`` of the checkout, keyed by a
hash of the generator and of this file, and is reused by later runs in
the same checkout. It is input, not program state, so building it is
not charged to any metric; every cache the program itself builds lives
in the per-run directory and is rebuilt on every run.

Usage: python3 -m perfbench.corpus <outdir>
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

SF = 0.1
# key ranges of the generated tables at SF (gen_sf.counts)
ORDER_KEYS = range(int(1_500_000 * SF))
CUSTOMER_KEYS = range(int(150_000 * SF))
USER_KEYS = range(int(15_000 * SF))

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# unique sort key per table: a single sorted partition makes the
# written file byte-for-byte repeatable
SORT_KEYS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_GENERATOR = os.path.join(_ROOT, "tools", "gen_sf.py")


def corpus_dir(state_dir: str) -> str:
    h = hashlib.sha1(f"{SF:g}".encode())
    for src in (_GENERATOR, os.path.abspath(__file__)):
        with open(src, "rb") as f:
            h.update(f.read())
    return os.path.join(state_dir, "data", f"sf{SF:g}-{h.hexdigest()[:12]}")


def ensure_corpus(state_dir: str, root: str, env: dict) -> str:
    """Return the corpus directory, generating it first if absent (in
    a child process, so the run's own Spark session starts clean)."""
    out = corpus_dir(state_dir)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(os.path.join(state_dir, "data.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(out):
            gen = subprocess.run(
                [sys.executable, "-m", "perfbench.corpus", out],
                cwd=root, env=env, capture_output=True, text=True,
                timeout=600,
            )
            if gen.returncode != 0:
                sys.stderr.write(gen.stderr[-4000:])
                raise RuntimeError("corpus generation failed")
    return out


def write_corpus(spark, outdir: str) -> None:
    """Write every table to ``outdir/<table>.parquet`` (one file each).

    The directory is built under a temporary name and renamed into
    place, so a reader never sees a half-written corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tools import gen_sf

    tmp = outdir + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in gen_sf.build_tables(spark, SF).items():
        if name == "documents":  # the fixtures store it as int64
            df = df.withColumn("n_chars", F.col("n_chars").cast("long"))
        table = df.repartition(1).sortWithinPartitions(*SORT_KEYS[name]).toArrow()
        # Spark hands back UTC-adjusted timestamps; the fixtures carry
        # naive ones (wall-clock values are equal under the UTC session)
        fields = [
            pa.field(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type)
            else f
            for f in table.schema
        ]
        table = table.cast(pa.schema(fields))
        pq.write_table(
            table, os.path.join(tmp, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
    shutil.rmtree(outdir, ignore_errors=True)
    os.rename(tmp, outdir)


def main(argv: list[str]) -> int:
    from citus_spark.session import get_spark

    spark = get_spark("perfbench_corpus")
    try:
        write_corpus(spark, argv[0])
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

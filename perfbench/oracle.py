"""Result checking against DuckDB over the same parquet corpus.

Rows are canonicalised with ``tools/oracle_check.py``'s ``canon`` /
``df_to_rows`` (columns ordered by name, rows sorted, dates as ISO
text, decimals as floats), then compared value by value with a
relative tolerance on floats: Spark and DuckDB sum doubles in
different orders.
"""

from __future__ import annotations

import math
import os
import sys

REL_TOL = 1e-9


def _oracle_check():
    # tools/ is a plain directory of scripts; importing oracle_check
    # prepends a fixed checkout path to sys.path, which is undone here
    # so later imports keep resolving inside this checkout
    saved = list(sys.path)
    try:
        from tools import oracle_check
    finally:
        sys.path[:] = saved
    return oracle_check


def connect(corpus_dir: str):
    import duckdb

    from perfbench.corpus import TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = os.path.join(corpus_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def canonical(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    return _oracle_check().df_to_rows(list(cols), [tuple(r) for r in rows])


def _same_value(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (int, float)) or (
        isinstance(b, float) and isinstance(a, (int, float))
    ):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_same_value, a, b))
    return a == b


def rows_match(got: tuple[list[str], list[tuple]],
               want: tuple[list[str], list[tuple]]) -> str | None:
    """None when two canonical results agree, else a short reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if not _same_value(a, b):
            return f"row {i}: {a} != {b}"
    return None


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return canonical(cols, res.fetchall())

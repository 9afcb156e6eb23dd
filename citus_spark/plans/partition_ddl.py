"""PG declarative partitioning — bound predicates, validation, and
routing (↔ reference src/test/regress/sql/multi_partitioning.sql and
the PG partitioning it distributes; parse layer in ddl_sql.py).

Spark-first model: a partitioned parent owns NO rows — its relation
is the UNION of its children's parquet layouts, and every write
funnel (_live_append/_live_rewrite in session.py) routes rows to
children by bound predicate. Child writes validate their own bound
(PG's partition constraint). At scale this is exactly the Citus
shape: the parent is a logical relation; children are independent
storage units that can be pruned, compacted, and dropped per-bound
(an expired range partition is one DROP, no row-level DELETE).

Hash routing uses the engine's portable hash64 (md5-based,
functions/__init__.py) rather than PG's internal hash — routing is an
engine-internal contract (each row lands in exactly one child; the
parent sees all rows), and portability makes the layout re-derivable
by any engine (the DuckDB oracle replays it exactly)."""

from __future__ import annotations

from citus_spark.functions import hash64_sql


def bound_predicate_sql(
    col: str, bound: dict, sibling_bounds: list[dict] | None = None
) -> str:
    """Spark/ANSI SQL predicate: does a row belong to this bound?
    `sibling_bounds` (the non-default bounds) is required for the
    DEFAULT partition (it takes whatever no sibling takes, including
    NULL keys)."""
    kind = bound["kind"]
    if kind == "range":
        parts = [f"{col} IS NOT NULL"]
        if bound["lo"] is not None:
            parts.append(f"{col} >= {bound['lo']}")
        if bound["hi"] is not None:
            parts.append(f"{col} < {bound['hi']}")
        return "(" + " AND ".join(parts) + ")"
    if kind == "list":
        clauses = []
        if bound["in"]:
            clauses.append(f"{col} IN ({', '.join(bound['in'])})")
        if bound["has_null"]:
            clauses.append(f"{col} IS NULL")
        return "(" + " OR ".join(clauses) + ")"
    if kind == "hash":
        h = hash64_sql(f"coalesce(CAST({col} AS STRING), '')")
        return f"(pmod({h}, {bound['modulus']}) = {bound['remainder']})"
    if kind == "default":
        others = [
            bound_predicate_sql(col, b)
            for b in (sibling_bounds or [])
            if b["kind"] != "default"
        ]
        if not others:
            return "(true)"
        return f"(NOT coalesce(({' OR '.join(others)}), false))"
    raise ValueError(f"unknown partition bound kind {kind!r}")


def validate_new_bound(spark, parent_entry, bound: dict) -> None:
    """Reject bounds PG would reject: overlapping ranges, duplicate
    list values, duplicate hash remainders / mixed moduli, a second
    DEFAULT partition. Literal comparisons evaluate through ONE
    LocalRelation select (engine coercion rules, no scan)."""
    existing = list((parent_entry.partitions or {}).values())
    if bound["kind"] == "default":
        if any(b["kind"] == "default" for b in existing):
            raise ValueError(
                f'partitioned table "{parent_entry.name}" already has '
                "a DEFAULT partition"
            )
        return
    method = parent_entry.partition_by["method"]
    want = {"range": "range", "list": "list", "hash": "hash"}[method]
    if bound["kind"] != want:
        raise ValueError(
            f'a FOR VALUES {bound["kind"].upper()} bound does not '
            f"match the parent's PARTITION BY {method.upper()}"
        )
    others = [b for b in existing if b["kind"] == bound["kind"]]
    if bound["kind"] == "hash":
        for b in others:
            if b["modulus"] != bound["modulus"]:
                raise ValueError(
                    "every hash partition must use the same MODULUS "
                    f"(existing {b['modulus']}, new {bound['modulus']})"
                )
            if b["remainder"] == bound["remainder"]:
                raise ValueError(
                    f"remainder {bound['remainder']} is already taken"
                )
        return
    checks: list[str] = []
    if bound["kind"] == "range":
        if bound["lo"] is not None and bound["hi"] is not None:
            ok = spark.sql(
                f"SELECT coalesce({bound['lo']} < {bound['hi']}, false)"
            ).collect()[0][0]
            if not ok:
                raise ValueError(
                    "empty range partition bound: "
                    f"{bound['lo']} .. {bound['hi']}"
                )
        for b in others:
            # overlap iff lo1 < hi2 AND lo2 < hi1 (None = unbounded)
            c1 = (
                f"({bound['lo']} < {b['hi']})"
                if bound["lo"] is not None and b["hi"] is not None
                else "true"
            )
            c2 = (
                f"({b['lo']} < {bound['hi']})"
                if b["lo"] is not None and bound["hi"] is not None
                else "true"
            )
            checks.append(f"(NOT ({c1} AND {c2}))")
    else:  # list
        taken = [v for b in others for v in b["in"]]
        for v in bound["in"]:
            for t in taken:
                checks.append(f"(NOT ({v} = {t}))")
        if bound["has_null"] and any(b["has_null"] for b in others):
            raise ValueError("NULL is already covered by a partition")
    if not checks:
        return
    row = spark.sql(
        "SELECT " + ", ".join(
            f"coalesce({c}, true) AS c{i}" for i, c in enumerate(checks)
        )
    ).collect()[0]
    if not all(row):
        raise ValueError(
            "partition bound overlaps an existing partition of "
            f'"{parent_entry.name}"'
        )

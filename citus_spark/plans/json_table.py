"""JSON_TABLE subset (SQL/JSON, PG17) — the FROM-clause operator that
turns a JSON document column into rows.

↔ reference src/test/regress/sql/pg17_json.sql: the reference treats
JSON_TABLE like a correlated function over recurring tuples (its
planner restriction comments, pg17_json.sql:3-9); the actual row
expansion is PostgreSQL's. Spark-first mapping: a LATERAL subquery
over posexplode_outer(from_json(.., 'array<string>')) — each array
element stays a JSON string, each COLUMNS entry is a
get_json_object + CAST projection, all JVM-side (no Python in the
row path, and the generator runs distributed next to its input
partition — no shuffle is introduced).

Supported: `JSON_TABLE(<expr>, '<path>' COLUMNS (<col list>)) AS
alias` where path is `$` or ends in `[*]`, and each column is
`name FOR ORDINALITY` or `name <type> [PATH '<path>']` (default path
`$.<name>`). NESTED PATH / EXISTS / FORMAT JSON / wrappers / ON
EMPTY / ON ERROR clauses reject loudly — a silent wrong expansion
would corrupt results.
"""

from __future__ import annotations

import re

from citus_spark.plans.rewrites import (
    _masked_close_paren,
    _masked_spans,
    _split_top_level,
)

_JSON_TABLE = re.compile(r"\bJSON_TABLE\s*\(", re.I)
_REJECT = re.compile(
    r"\b(NESTED|EXISTS|FORMAT\s+JSON|WITH\s+WRAPPER|WITHOUT\s+WRAPPER"
    r"|ON\s+EMPTY|ON\s+ERROR|PLAN)\b",
    re.I,
)


def _unsupported_keyword(inner: str) -> str | None:
    """First rejected JSON_TABLE keyword in `inner`, ignoring string
    literals (a PATH like '$.nested_id' must not trigger) and
    identifiers that merely contain a keyword (nested_id, exists_flag
    stay valid — both boundaries are closed)."""
    spans = _masked_spans(inner)
    for m in _REJECT.finditer(inner):
        if not any(a <= m.start() < b for a, b in spans):
            return m.group(1).upper()
    return None


def _root_selector(expr: str, path: str) -> str:
    """Context expr + PG root path → a Spark expression yielding the
    JSON array text to explode."""
    p = path.strip()
    if p == "$":
        return expr
    m = re.match(r"^\$(?P<inner>.*?)\s*\[\s*\*\s*\]$", p)
    if not m:
        raise NotImplementedError(
            f"JSON_TABLE path {path!r} is not supported — use '$' "
            "over an array document or a path ending in [*]"
        )
    inner = m.group("inner")
    if not inner:
        return expr
    return f"get_json_object({expr}, '${inner}')"


def _column_projection(item: str) -> str:
    from citus_spark.plans.ddl_sql import _map_type

    om = re.match(r"^\s*([A-Za-z_]\w*)\s+FOR\s+ORDINALITY\s*$", item, re.I)
    if om:
        return f"CAST(_jt_pos + 1 AS INT) AS {om.group(1)}"
    cm = re.match(
        r"^\s*([A-Za-z_]\w*)\s+(.+?)(?:\s+PATH\s+'((?:[^']|'')*)')?\s*$",
        item,
        re.I | re.S,
    )
    if not cm:
        raise ValueError(f"JSON_TABLE: cannot parse column {item!r}")
    name, pg_type, path = cm.group(1), cm.group(2), cm.group(3)
    spark_type = _map_type(pg_type)
    jpath = path if path is not None else f"$.{name}"
    return (
        f"CAST(get_json_object(_jt_item, '{jpath}') AS {spark_type}) "
        f"AS {name}"
    )


def pg_json_table(sql: str) -> str:
    """Rewrite every JSON_TABLE(..) AS alias occurrence into a LATERAL
    subquery. Idempotent on text without JSON_TABLE."""
    while True:
        spans = _masked_spans(sql)
        m = next(
            (
                c
                for c in _JSON_TABLE.finditer(sql)
                if not any(a <= c.start() < b for a, b in spans)
            ),
            None,
        )
        if m is None:
            return sql
        close = _masked_close_paren(sql, m.end(), spans)
        if close < 0:
            raise ValueError("JSON_TABLE: unbalanced parentheses")
        inner = sql[m.end() : close]
        kw = _unsupported_keyword(inner)
        if kw is not None:
            raise NotImplementedError(
                f"JSON_TABLE {kw} clauses are not supported (flat "
                "COLUMNS with PATH / FOR ORDINALITY are)"
            )
        cm = re.search(r"\bCOLUMNS\s*\(", inner, re.I)
        if not cm:
            raise ValueError("JSON_TABLE: missing COLUMNS (..)")
        head = inner[: cm.start()].strip().rstrip(",").strip()
        cols_close = _masked_close_paren(
            inner, cm.end(), _masked_spans(inner)
        )
        if cols_close < 0:
            raise ValueError("JSON_TABLE: unbalanced COLUMNS")
        if inner[cols_close + 1 :].strip():
            raise NotImplementedError(
                "JSON_TABLE: trailing clauses after COLUMNS are not "
                "supported"
            )
        parts = _split_top_level(head)
        if len(parts) != 2:
            raise ValueError(
                "JSON_TABLE needs (context_expr, 'path' COLUMNS (..))"
            )
        ctx = parts[0].strip()
        pm = re.match(r"^\s*'((?:[^']|'')*)'\s*$", parts[1])
        if not pm:
            raise NotImplementedError(
                "JSON_TABLE: the row path must be a string literal"
            )
        projections = [
            _column_projection(item)
            for item in _split_top_level(inner[cm.end() : cols_close])
        ]
        root = _root_selector(ctx, pm.group(1))
        am = re.match(
            r"\s*(?:AS\s+)?([A-Za-z_]\w*)", sql[close + 1 :], re.I
        )
        alias = am.group(1) if am else "json_table"
        end = close + 1 + (am.end() if am else 0)
        lateral = (
            f"LATERAL (SELECT {', '.join(projections)} FROM "
            f"(SELECT posexplode_outer(from_json({root}, "
            f"'array<string>')) AS (_jt_pos, _jt_item))) {alias}"
        )
        sql = sql[: m.start()] + lateral + sql[end:]

"""Router-key detection before planning (↔ the reference's fast-path
router planner, planner/fast_path_router_planner.c, and the router
planner's single-shard restriction test, multi_router_planner.c).

``router_key(query, catalog)`` decides from the statement text and the
distribution catalog alone whether a SELECT pins a hash-distributed
table to one distribution-column literal. `DistributedSession.sql`
calls it once per statement, before Catalyst plans. Its result routes
isolated and split tenants to their own storage partition and is the
partition key citus_stat_statements records.

The rule is the reference's router rule reduced to what text can
prove:

- exactly one SELECT: no subquery, CTE or set operation;
- a WHERE conjunct at paren depth 0 of the form
  ``[table|alias.]dist_col = literal`` (the literal on either side),
  where the literal is an integer or a string and ends its conjunct;
- no OR / NOT / CASE / IS / ``!`` (other than ``!=``) in the WHERE
  clause, any of which could invert or widen the restriction;
- every other hash-distributed relation in FROM is colocated with the
  pinned one and joined to it by distribution-column equalities (ON or
  WHERE conjuncts).

An unqualified column is attributed to the relation whose
distribution column it names; were two relations to share that name,
the SQL itself would be ambiguous, so no key is returned. Anything
else is not a router statement and runs the full plan, which is
always correct, as the reference falls back to its adaptive executor.

String literals and comments are masked with the ``_segments`` split
of plans/rewrites.py, so key-like text inside either never counts.
Backslashes and double quotes are refused outright: under Spark's
escape rules that split cannot prove where a string ends.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from citus_spark.plans.rewrites import _segments

_COL = r"(?:(?P<{0}q>[A-Za-z_]\w*)\s*\.\s*)?(?P<{0}c>[A-Za-z_]\w*)"
# in the masked text a string literal reads '___'
_LIT = r"(?P<lit>-?\d+|'_*')"
_PIN = (
    re.compile(rf"{_COL.format('a')}\s*=\s*{_LIT}"),
    re.compile(rf"{_LIT}\s*=\s*{_COL.format('a')}"),
)
_EQ = re.compile(rf"{_COL.format('a')}\s*=\s*{_COL.format('b')}")
_CLAUSE = re.compile(
    r"\b(FROM|WHERE|(?:GROUP|ORDER|SORT|CLUSTER|DISTRIBUTE)\s+BY"
    r"|HAVING|LIMIT|OFFSET|WINDOW)\b",
    re.I,
)
_SET_OP = re.compile(r"\b(UNION|INTERSECT|EXCEPT|MINUS)\b", re.I)
_WIDENS = re.compile(r"\b(OR|NOT|CASE|IS)\b|!(?!=)", re.I)
_JOIN = re.compile(
    r",|\b(?:(?:INNER|CROSS|LEFT|RIGHT|FULL|OUTER|SEMI|ANTI)\s+)*JOIN\b",
    re.I,
)
# a FROM item: name [AS alias] [ON cond]
_ITEM = re.compile(
    r"\s*([A-Za-z_]\w*)(?:\s+(?:AS\s+)?(?!ON\b)([A-Za-z_]\w*))?\s*"
    r"(?:ON\b(.*))?",
    re.I | re.S,
)


@dataclass(frozen=True)
class RouterKey:
    """A statement pinned to one distribution-column literal."""

    table: str  # catalog name of the pinned relation
    value: str  # the literal, unquoted
    quoted: bool  # a string literal (else an integer)
    relations: int  # relations in FROM
    from_item: tuple[int, int]  # span of the pinned relation's FROM item
    alias: str  # the name its columns are qualified by


def _mask(query: str) -> str:
    """`query` with comments blanked and string-literal bodies turned
    into underscores; every position is unchanged."""
    out = []
    for kind, text in _segments(query):
        if kind == "code":
            out.append(text)
        elif kind == "comment" or not text.startswith("'"):
            out.append(" " * len(text))
        else:
            out.append("'" + "_" * (len(text) - 2) + "'")
    return "".join(out)


def _top(masked: str, a: int, b: int) -> str | None:
    """masked[a:b] with everything inside parentheses blanked, so a
    regex over it sees paren depth 0 only; None when unbalanced."""
    out, depth = [], 0
    for c in masked[a:b]:
        if c == ")":
            depth -= 1
            if depth < 0:
                return None
        out.append(c if depth == 0 else " ")
        if c == "(":
            depth += 1
    return "".join(out) if depth == 0 else None


def _conjuncts(masked: str, a: int, b: int) -> list[tuple[int, int]]:
    """Spans of the AND-conjuncts of masked[a:b] (the AND of a BETWEEN
    does not split), descending into fully parenthesized ones."""
    spans, start, betweens = [], a, 0
    for m in re.finditer(r"\b(BETWEEN|AND)\b", _top(masked, a, b), re.I):
        if m.group(1).upper() == "BETWEEN":
            betweens += 1
        elif betweens:
            betweens -= 1
        else:
            spans.append((start, a + m.start()))
            start = a + m.end()
    spans.append((start, b))
    out = []
    for s, e in spans:
        while s < e and masked[s].isspace():
            s += 1
        while e > s and masked[e - 1].isspace():
            e -= 1
        inner = _top(masked, s, e)
        if inner and inner[0] == "(" and not inner[1:-1].strip():
            out.extend(_conjuncts(masked, s + 1, e - 1))
        elif s < e:
            out.append((s, e))
    return out


def _unquote(lit: str) -> str:
    return lit[1:-1].replace("''", "'") if lit.startswith("'") else lit


def router_key(query: str, catalog) -> RouterKey | None:
    """The distribution-column literal that pins `query` to one shard
    (see the module docstring for the rule), or None."""
    if "\\" in query:
        return None
    masked = _mask(query).rstrip().rstrip(";")
    top = _top(masked, 0, len(masked))
    if (
        top is None
        or '"' in masked
        or "`" in masked
        or not re.match(r"\s*SELECT\b", masked, re.I)
        or len(re.findall(r"\bSELECT\b", masked, re.I)) != 1
        or _SET_OP.search(masked)
    ):
        return None
    clauses = list(_CLAUSE.finditer(top))
    kinds = [m.group(1).upper() for m in clauses] + [None, None, None]
    if kinds[:2] != ["FROM", "WHERE"]:
        return None
    where = (clauses[1].end(), clauses[2].start() if kinds[2] else len(masked))
    if _WIDENS.search(masked, *where):
        return None

    tables = {k.lower(): v for k, v in catalog.tables().items()}
    bounds = [clauses[0].end()]
    for m in _JOIN.finditer(top, clauses[0].end(), clauses[1].start()):
        bounds += [m.start(), m.end()]
    bounds.append(clauses[1].start())
    rels = []  # (entry or None, names that qualify it, span, alias)
    conjuncts = _conjuncts(masked, *where)
    for a, b in zip(bounds[::2], bounds[1::2]):
        m = _ITEM.fullmatch(masked, a, b)
        if m is None:
            return None
        name, alias = m.group(1), m.group(2) or m.group(1)
        span = (m.start(1), m.end(2) if m.group(2) else m.end(1))
        refs = {name.lower(), alias.lower()}
        rels.append((tables.get(name.lower()), refs, span, alias))
        if m.group(3) is not None:
            conjuncts += _conjuncts(masked, m.start(3), m.end(3))
    hashed = {
        i for i, r in enumerate(rels) if r[0] and r[0].is_hash_distributed
    }

    def owner(m: re.Match, side: str) -> int | None:
        """The relation whose distribution column `[qual.]col` names."""
        qual, col = m.group(side + "q"), m.group(side + "c").lower()
        hits = [
            i
            for i in hashed
            if rels[i][0].dist_col.lower() == col
            and (qual is None or qual.lower() in rels[i][1])
        ]
        return hits[0] if len(hits) == 1 else None

    pins, edges = [], []  # (relation, literal), (relation, relation)
    for s, e in conjuncts:
        m = _PIN[0].fullmatch(masked, s, e) or _PIN[1].fullmatch(masked, s, e)
        if m and s >= where[0]:  # ON conjuncts never pin
            pins.append((owner(m, "a"), query[m.start("lit"):m.end("lit")]))
        elif m := _EQ.fullmatch(masked, s, e):
            i, j = owner(m, "a"), owner(m, "b")
            edges += [(i, j), (j, i)]
    pins = [(i, lit) for i, lit in pins if i is not None]
    if not pins or len({_unquote(lit) for _, lit in pins}) != 1:
        return None
    # every hash-distributed relation must reach a pinned one through
    # distribution-column equalities, all in one colocation group
    reach = {i for i, _ in pins}
    for _ in rels:
        reach |= {j for i, j in edges if i in reach and j is not None}
    if reach != hashed or len({rels[i][0].colocation_id for i in hashed}) > 1:
        return None
    p, lit = pins[0]
    return RouterKey(
        table=rels[p][0].name,
        value=_unquote(lit),
        quoted=lit.startswith("'"),
        relations=len(rels),
        from_item=rels[p][2],
        alias=rels[p][3],
    )

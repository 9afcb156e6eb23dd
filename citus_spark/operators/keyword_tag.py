"""Dictionary keyword tagging — annotate every document with the
controlled-vocabulary terms it contains (taxonomy tagging, blocklist
screening, topic routing: the FlashText/Aho-Corasick job of a data
pipeline).

Spark-first mapping: the dictionary rides into the plan as a CONSTANT
array column (Column literals, never spliced SQL text — injection-
proof); the corpus streams past it once as a narrow map
(``array_intersect(tokens, dict)``), no shuffle, linear in rows. This
inline-constant shape is right for the dictionaries taxonomy tagging
uses (hundreds to a few thousand terms); a 100k+-term dictionary
should instead broadcast-join exploded tokens against a keywords
DataFrame — this function REFUSES such dictionaries loudly rather
than planting a multi-megabyte constant in the plan.

Matching is word-boundary over the 'simple' tokenizer (lowercase,
split on non-alphanumerics) — so every dictionary term must itself
be a single such token; unmatchable terms (spaces, hyphens,
non-ASCII) are rejected at call time, never silently dead.

Determinism: tags are the sorted intersection — a pure set function
of the row, partition-proof, and re-derivable by any engine
(DuckDB: list_intersect + list_sort), so this is an r8 oracle
candidate.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_INLINE_KEYWORDS = 10_000


def _validated(keywords: list[str]) -> list[str]:
    if not keywords:
        raise ValueError("tag_keywords: empty dictionary")
    if len(keywords) > MAX_INLINE_KEYWORDS:
        raise ValueError(
            f"tag_keywords: {len(keywords)} keywords exceeds the "
            f"inline-constant limit ({MAX_INLINE_KEYWORDS}) — "
            "broadcast-join a keywords DataFrame against exploded "
            "tokens instead of planting a huge constant in the plan"
        )
    lowered = sorted({k.lower() for k in keywords})
    bad = [k for k in lowered if not re.fullmatch(r"[a-z0-9]+", k)]
    if bad:
        raise ValueError(
            f"tag_keywords: {bad[:5]} cannot ever match — terms must "
            "be single [a-z0-9]+ tokens under the word-boundary "
            "tokenizer (multi-word or non-ASCII terms need a "
            "substring-matching kernel)"
        )
    return lowered


def tag_keywords(
    docs: DataFrame,
    text_col: str,
    keywords: list[str],
    out_col: str = "tags",
) -> DataFrame:
    """→ docs + `out_col` array<string>: the sorted dictionary terms
    present (word-boundary, case-insensitive) in the text."""
    terms = _validated(keywords)
    dict_col = F.array(*[F.lit(k) for k in terms])
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda x: x != F.lit(""),
    )
    return docs.withColumn(
        out_col, F.array_sort(F.array_intersect(toks, dict_col))
    )

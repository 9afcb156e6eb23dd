"""Guard against package code that only tests reach.

The product surface is the package itself (the query registry, the SQL
front door and the ``DistributedSession`` API), plus ``tools/`` and
``perfbench/``. A top-level function or class in ``citus_spark/`` that
nothing in those trees names outside its own definition — as an
identifier, or as a word inside a string such as SQL text or a registry
name — is reached only by tests, and is deleted together with the tests
that exercise it. Comments, docstrings and the module paths of import
statements do not count as references. Helpers that tests use to check
live code (reference implementations, inverse codecs, plan inspectors,
container probes) are listed in ``TEST_ORACLES`` with the reason each
one stays.

The scan is one regex tokenizer pass over the source text rather than
an ``ast`` parse: parsing the roots with ``ast`` alone takes over half a
second, the tokenizer about a quarter. No Spark needed.
"""

from __future__ import annotations

import re
from collections import defaultdict
from functools import cache
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "citus_spark"
ROOTS = (PACKAGE, REPO / "tools", REPO / "perfbench")

_TOKEN = re.compile(
    r"(?P<str>[rRbBuUfF]{0,2}"
    r'(?:"""(?:\\.|[^\\])*?"""|' r"'''(?:\\.|[^\\])*?'''|"
    r'"(?:\\.|[^"\\\n])*"|' r"'(?:\\.|[^'\\\n])*'))"
    r"|(?P<comment>#[^\n]*)"
    r"|(?P<module>^[ \t]*(?:from|import)[ \t]+[\w.]+)"
    r"|(?P<word>[A-Za-z_][A-Za-z0-9_]*)"
    r"|(?P<at>@)",
    re.M,
)
# words inside a string; a word naming a file ("txlog.py") is a module
_WORD = re.compile(r"(?<![A-Za-z0-9_])[A-Za-z_][A-Za-z0-9_]*(?![A-Za-z0-9_]|\.py\b)")

# Package code no product path reaches, kept because tests use it to
# check live code.  {"module:name": reason}
TEST_ORACLES = {
    "operators/audiocodec.py:encode_wav_ima_adpcm": (
        "encoder for the live IMA-ADPCM decoder's stereo, multi-block and "
        "fact-trim tests (the registry entry covers one mono block)"
    ),
    "operators/bpe.py:decode_tokens": "inverse of the live BPE encoder; round-trip check",
    "operators/logreg.py:train_logreg_reference": "single-node fit the distributed logreg must equal",
    "operators/videocodec.py:probe_video": "container probe that verifies the live video encoders",
    "sources/ingest.py:n_exchanges": "counts a plan's exchanges for the colocation tests",
}


def _is_docstring(text, pos):
    """A string that opens its line right after a ``def``/``class``
    header (or at the top of the file) is prose, not a reference."""
    i = pos - 1
    while i >= 0 and text[i] in " \t":
        i -= 1
    if i >= 0 and text[i] != "\n":
        return False
    while i >= 0 and text[i] in " \t\r\n":
        i -= 1
    return i < 0 or text[i] == ":"


def _py_files():
    for root in ROOTS:
        for path in sorted(root.rglob("*.py")):
            if "tests" not in path.relative_to(REPO).parts:
                yield path


@cache
def _scan():
    """Every top-level package def and every place each name occurs.

    Returns ``(defs, refs)``: ``defs`` maps ``"module:name"`` to
    ``(path, start, end)`` character offsets of the definition, from its
    ``def``/``class`` line to the next statement at column 0; ``refs``
    maps a name to the ``(path, offset)`` places it occurs. Module paths
    in import statements are not references.
    """
    defs = {}
    refs = defaultdict(list)
    for path in _py_files():
        text = path.read_text()
        module = path.is_relative_to(PACKAGE) and path.relative_to(PACKAGE).as_posix()
        open_def = name_next = None
        for m in _TOKEN.finditer(text):
            kind, pos = m.lastgroup, m.start()
            if kind == "str":
                if not _is_docstring(text, pos):
                    for word in set(_WORD.findall(m.group())):
                        refs[word].append((path, pos))
                continue
            if kind == "comment":
                continue
            if kind == "word":
                word = m.group()
                refs[word].append((path, pos))
                if name_next is not None and word != "def":
                    open_def, name_next = (f"{module}:{word}", name_next), None
                    continue
            at_col0 = (pos == 0 or text[pos - 1] == "\n") and not text[pos].isspace()
            if module and at_col0 and name_next is None:
                if open_def:
                    defs[open_def[0]] = (path, open_def[1], pos)
                    open_def = None
                if kind == "word" and word in ("def", "class", "async"):
                    name_next = pos
        if open_def:
            defs[open_def[0]] = (path, open_def[1], len(text))
    return defs, refs


def _unreached():
    defs, refs = _scan()
    return sorted(
        key
        for key, (path, start, end) in defs.items()
        if all(p == path and start <= pos < end for p, pos in refs[key.rsplit(":", 1)[1]])
    )


def test_no_package_code_is_reached_only_by_tests():
    unreached = [k for k in _unreached() if k not in TEST_ORACLES]
    assert not unreached, (
        "top-level package code that nothing in citus_spark/, tools/ or "
        "perfbench/ references; delete it with its tests, or list it in "
        "TEST_ORACLES with a reason:\n  " + "\n  ".join(unreached)
    )


def test_every_listed_oracle_exists_and_is_still_test_only():
    defs, _ = _scan()
    assert not [k for k in TEST_ORACLES if k not in defs]
    assert sorted(TEST_ORACLES) == [k for k in _unreached() if k in TEST_ORACLES]

"""Every entry in tests/slow_tests.txt must name a test that exists.

conftest.py deselects the listed node IDs from the default run; an
entry whose file or test function is gone deselects nothing and hides
that the list has drifted from the suite. No Spark needed.
"""

from __future__ import annotations

import re
from pathlib import Path

TESTS = Path(__file__).resolve().parent


def test_slow_tests_entries_name_existing_tests():
    stale = []
    for line in (TESTS / "slow_tests.txt").read_text().splitlines():
        entry = line.strip()
        if not entry or entry.startswith("#"):
            continue
        path, _, name = entry.partition("::")
        source = TESTS.parent / path
        func = name.split("[", 1)[0]
        if not source.is_file() or not re.search(
            rf"^def {re.escape(func)}\(", source.read_text(), re.M
        ):
            stale.append(entry)
    assert not stale, "slow_tests.txt names missing tests:\n  " + "\n  ".join(stale)

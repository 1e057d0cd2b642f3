"""tests/slow_tests.txt names only tests that exist: every entry points
at a test file and a top-level ``test_*`` function or ``Test*`` class
in it. A stale entry would otherwise mark nothing and hide the rot."""

from __future__ import annotations

import ast

from tests.conftest import _SLOW_LIST, REPO


def test_every_slow_entry_names_an_existing_test():
    stale = []
    defined: dict[str, set[str]] = {}
    for line in _SLOW_LIST.read_text().splitlines():
        entry = line.strip()
        if not entry or entry.startswith("#"):
            continue
        path, _, rest = entry.partition("::")
        name = rest.split("::", 1)[0].split("[", 1)[0]
        if path not in defined:
            file = REPO / path
            tree = ast.parse(file.read_text()) if file.is_file() else ast.Module([])
            defined[path] = {
                n.name
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.ClassDef))
            }
        if not (name.startswith(("test_", "Test")) and name in defined[path]):
            stale.append(entry)
    assert not stale, f"slow_tests.txt entries naming no test: {stale}"

"""Census of the package's public keyword parameters and who sets them.

For every public function in ``terra_bonobo_nodes_spark`` (module-level
or method, name not starting with ``_``) it lists each parameter that
has a default, and counts the call sites that pass that keyword
explicitly, split into test callers (``tests/``, ``perfbench/test_*``)
and everything else (the package itself, ``bench.py``, ``perfbench/``,
``tools/``, ``__spark_entry__.py``). Calls are matched by the callee's
last name (``mod.f(...)``, ``f(...)`` and an imported alias of ``f``
all count for ``f``), so a name shared by two functions pools their
callers — an over-count. A call that forwards the enclosing function's
own parameter (``f(x, kw=kw)``) does not count as setting ``kw``, and a
``**mapping`` argument is not seen: grep for those separately.

Usage::

    python tools/kwarg_census.py [ROOT] [--only f:kw ...] [--unset]

``--only`` restricts the report to the named ``function:keyword``
pairs; ``--unset`` prints only keywords that no non-test caller sets.
Output is one tab-separated line per (function, keyword):
``module  function  keyword  non_test_setters  test_setters``.
"""

from __future__ import annotations

import argparse
import ast
import os
from collections import defaultdict

PACKAGE = "terra_bonobo_nodes_spark"


def _py_files(root: str):
    for base, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(base, f)


def _is_test(rel: str) -> bool:
    parts = rel.split(os.sep)
    return parts[0] == "tests" or parts[-1].startswith("test_")


def public_keywords(root: str) -> dict[tuple[str, str], list[str]]:
    """(module, function) -> names of its parameters that have defaults."""
    out = {}
    for path in _py_files(os.path.join(root, PACKAGE)):
        mod = os.path.relpath(path, root)[:-3].replace(os.sep, ".")
        tree = ast.parse(open(path).read(), path)
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_"):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            with_default = [p.arg for p in pos[len(pos) - len(a.defaults):]]
            with_default += [
                p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            if with_default:
                out[(mod, node.name)] = with_default
    return out


def _params(fn: ast.AST) -> set[str]:
    a = fn.args
    return {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}


def keyword_setters(root: str) -> dict[tuple[str, str], list[int]]:
    """(callee last name, keyword) -> [non-test count, test count].

    A keyword whose value is the enclosing function's own parameter
    (``f(x, kw=kw)``) forwards the caller's choice and is not counted."""
    counts: dict[tuple[str, str], list[int]] = defaultdict(lambda: [0, 0])

    def visit(node: ast.AST, params: set[str], side: int, alias: dict) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            params = params | _params(node)
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            name = alias.get(name, name)
            for kw in node.keywords if name else ():
                forwarded = isinstance(kw.value, ast.Name) and kw.value.id in params
                if kw.arg is not None and not forwarded:
                    counts[(name, kw.arg)][side] += 1
        for child in ast.iter_child_nodes(node):
            visit(child, params, side, alias)

    for path in _py_files(root):
        rel = os.path.relpath(path, root)
        tree = ast.parse(open(path).read(), path)
        # `from m import f as g`: calls to g(...) count for f
        alias = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        visit(tree, set(), int(_is_test(rel)), alias)
    return counts


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default=".")
    ap.add_argument("--only", nargs="*", default=None, metavar="FUNC:KW")
    ap.add_argument("--unset", action="store_true")
    args = ap.parse_args(argv)
    only = {tuple(x.split(":", 1)) for x in args.only} if args.only else None
    setters = keyword_setters(args.root)
    for (mod, fn), kws in sorted(public_keywords(args.root).items()):
        for kw in kws:
            if only is not None and (fn, kw) not in only:
                continue
            non_test, test = setters.get((fn, kw), (0, 0))
            if args.unset and non_test:
                continue
            print(f"{mod}\t{fn}\t{kw}\t{non_test}\t{test}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

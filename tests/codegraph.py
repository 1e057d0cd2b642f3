"""Static code graph of the package, read with ``ast`` (no Spark).

Two questions the rotation and reachability tests ask of the source:

- ``reachable_modules``: which package modules the production entry
  points import, directly or through other package modules. Imports
  inside function bodies count, since the query modules import their
  operators lazily.
- ``changed_closure``: which top-level definitions changed between two
  trees, closed under references. A reference is resolved through the
  referencing module's own top-level bindings and imports, so it links
  a ``(module, name)`` pair, not a bare identifier: an edit to
  ``llm.similarity.norm`` does not reach a function whose local
  variable is also called ``norm``, and one module's private ``_SEED``
  does not reach another's.

Run as a script to list the registered rows whose code changed since a
base commit::

    python tests/codegraph.py BASE
"""

from __future__ import annotations

import ast
import subprocess
import sys
from collections.abc import Iterable
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "terra_bonobo_nodes_spark"

Key = tuple[str, str]  # (dotted module, top-level name)


def module_name(rel: str) -> str:
    """``pkg/a/b.py`` -> ``pkg.a.b``; ``pkg/a/__init__.py`` -> ``pkg.a``."""
    parts = list(Path(rel).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def package_sources(root: Path = REPO, package: str = PACKAGE) -> dict[str, str]:
    """Dotted module name -> source text for every module of ``package``."""
    return {
        module_name(str(p.relative_to(root))): p.read_text()
        for p in sorted((root / package).rglob("*.py"))
    }


def _is_package(mod: str, sources: dict[str, str]) -> bool:
    return any(m.startswith(mod + ".") for m in sources)


def _absolute(node: ast.ImportFrom, mod: str, is_pkg: bool) -> str:
    """The absolute module a ``from X import ...`` names."""
    if not node.level:
        return node.module or ""
    parts = mod.split(".")
    base = parts if is_pkg else parts[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def import_bindings(
    tree: ast.AST, mod: str, is_pkg: bool
) -> dict[str, tuple[str, str | None]]:
    """Local name -> (module, attribute) for every import in ``tree``;
    attribute is None when the name binds the module itself."""
    out: dict[str, tuple[str, str | None]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = (a.name, None)
                else:
                    head = a.name.split(".")[0]
                    out[head] = (head, None)
        elif isinstance(node, ast.ImportFrom):
            src = _absolute(node, mod, is_pkg)
            for a in node.names:
                if a.name != "*":
                    out[a.asname or a.name] = (src, a.name)
    return out


def imported_modules(
    tree: ast.AST, mod: str, is_pkg: bool, known: Iterable[str]
) -> set[str]:
    """Modules of ``known`` that executing ``tree`` imports, including
    the parent packages Python initialises on the way."""
    known = set(known)
    hits: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            hits |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            src = _absolute(node, mod, is_pkg)
            hits.add(src)
            hits |= {f"{src}.{a.name}" for a in node.names}
    out = set()
    for h in hits:
        parts = h.split(".")
        out |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return out & known


def reachable_modules(roots: Iterable[Path]) -> set[str]:
    """Package modules that the ``roots`` files import, transitively."""
    sources = package_sources()
    seen: set[str] = set()
    todo: list[tuple[ast.AST, str, bool]] = [
        (ast.parse(p.read_text()), module_name(str(p.relative_to(REPO))), False)
        for p in roots
    ]
    while todo:
        tree, mod, is_pkg = todo.pop()
        for m in imported_modules(tree, mod, is_pkg, sources) - seen:
            seen.add(m)
            todo.append((ast.parse(sources[m]), m, _is_package(m, sources)))
    return seen


def top_segments(src: str) -> dict[str, ast.AST]:
    """Top-level def/class/assignment name -> its ast node (decorators
    included, so a registered oracle string belongs to its query)."""
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return {}
    out: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    out[t.id] = node
    return out


class Resolver:
    """Maps the identifiers of a package module to the ``(module,
    name)`` definitions they denote, following re-exports."""

    def __init__(self, sources: dict[str, str]):
        self.sources = sources
        self.defs: dict[str, dict[str, ast.AST]] = {}
        self.imports: dict[str, dict[str, tuple[str, str | None]]] = {}
        self._is_pkg = {m: _is_package(m, sources) for m in sources}
        for mod, src in sources.items():
            body = ast.parse(src).body
            heads = [n for n in body if isinstance(n, (ast.Import, ast.ImportFrom))]
            self.defs[mod] = top_segments(src)
            self.imports[mod] = import_bindings(
                ast.Module(heads, []), mod, self._is_pkg[mod]
            )

    def _lookup(self, mod: str, name: str, depth: int = 0) -> Key | str | None:
        """What ``name`` means at the top level of ``mod``: a definition
        key, a module name (str), or None outside the package."""
        if depth > 10 or mod not in self.sources:
            return None
        if name in self.defs[mod]:
            return (mod, name)
        if name in self.imports[mod]:
            return self._follow(*self.imports[mod][name], depth + 1)
        if f"{mod}.{name}" in self.sources:
            return f"{mod}.{name}"
        return None

    def _follow(self, src: str, attr: str | None, depth: int = 0) -> Key | str | None:
        if attr is None:
            return src if src in self.sources else None
        if f"{src}.{attr}" in self.sources:
            return f"{src}.{attr}"
        return self._lookup(src, attr, depth)

    def refs(self, node: ast.AST, mod: str) -> set[Key]:
        """Definitions that ``node`` (code of module ``mod``) references
        through a Name or a ``module.attr`` chain. Imports inside
        ``node`` shadow the module's own."""
        local = import_bindings(node, mod, self._is_pkg[mod])
        out: set[Key] = set()

        def resolve(name: str) -> Key | str | None:
            if name in local:
                return self._follow(*local[name])
            return self._lookup(mod, name)

        def chain(n: ast.AST) -> Key | str | None:
            if isinstance(n, ast.Name):
                return resolve(n.id)
            if isinstance(n, ast.Attribute):
                base = chain(n.value)
                if isinstance(base, str):
                    return self._lookup(base, n.attr)
            return None

        for n in ast.walk(node):
            if isinstance(n, (ast.Name, ast.Attribute)):
                hit = chain(n)
                if isinstance(hit, tuple):
                    out.add(hit)
        return out


def changed_defs(
    old: dict[str, str], new: dict[str, str], exempt: Iterable[str] = ()
) -> set[Key]:
    """Top-level definitions whose source text differs between two trees
    (module -> source maps); a name in ``exempt`` never counts."""
    exempt = set(exempt)
    out: set[Key] = set()

    def texts(src: str) -> dict[str, str]:
        return {
            k: ast.get_source_segment(src, v) or ""
            for k, v in top_segments(src).items()
        }

    for mod in set(old) | set(new):
        a, b = texts(old.get(mod, "")), texts(new.get(mod, ""))
        out |= {
            (mod, nm)
            for nm in set(a) | set(b)
            if a.get(nm) != b.get(nm) and nm not in exempt
        }
    return out


def changed_closure(
    resolver: Resolver, direct: set[Key], exempt: Iterable[str] = ()
) -> set[Key]:
    """``direct`` plus every definition that references a member,
    to a fixpoint. An exempt name neither joins nor propagates."""
    exempt = set(exempt)
    edges = {
        (mod, nm): resolver.refs(node, mod)
        for mod, defs in resolver.defs.items()
        for nm, node in defs.items()
        if nm not in exempt
    }
    changed = set(direct)
    while True:
        grew = {k for k, r in edges.items() if k not in changed and r & changed}
        if not grew:
            return changed
        changed |= grew


def git(*args: str) -> str:
    r = subprocess.run(["git", *args], capture_output=True, text=True, cwd=REPO)
    return r.stdout if r.returncode == 0 else ""


def sources_at(rev: str) -> dict[str, str]:
    """Dotted module name -> source for every package module at ``rev``."""
    files = git("ls-tree", "-r", "--name-only", rev, "--", PACKAGE).split()
    return {module_name(f): git("show", f"{rev}:{f}") for f in files if f.endswith(".py")}


# editing the rotation schedule itself is not operator change
SCHEDULE = f"{PACKAGE}.plans.registry"


def affected_queries(
    base: str, queries: dict, exempt_symbols: Iterable[str] = ()
) -> set[str]:
    """Registered names whose function, or anything it references, has
    changed since ``base`` (working tree against that commit)."""
    new = package_sources()
    old = sources_at(base)
    direct = {
        k
        for k in changed_defs(old, new, exempt_symbols)
        if k[0] != SCHEDULE
    }
    if not direct:
        return set()
    changed = changed_closure(Resolver(new), direct, exempt_symbols)
    return {
        name
        for name, q in queries.items()
        if (q.spark_fn.__module__, q.spark_fn.__name__) in changed
    }


if __name__ == "__main__":
    sys.path.insert(0, str(REPO))
    from terra_bonobo_nodes_spark.plans.registry import all_queries

    for n in sorted(affected_queries(sys.argv[1], all_queries())):
        print(n)

"""The static code graph (tests/codegraph.py), read without Spark.

Two contracts: every package module is reachable from a production
entry point, and the changed-code closure links definitions by
``(module, name)``, not by bare identifier."""

from __future__ import annotations

from tests.codegraph import (
    PACKAGE,
    REPO,
    Resolver,
    changed_closure,
    changed_defs,
    package_sources,
    reachable_modules,
)

# The public plan-introspection API: user code imports it, no
# registered row or tool does.
UNREACHED_BY_DESIGN = frozenset({f"{PACKAGE}.plans.audit"})


def production_roots():
    plans = REPO / PACKAGE / "plans"
    return [
        *sorted(plans.glob("queries_*.py")),
        plans / "registry.py",
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
        *(p for p in sorted((REPO / "perfbench").glob("*.py")) if not p.name.startswith("test_")),
        *sorted((REPO / "tools").glob("*.py")),
    ]


def test_every_package_module_is_reachable():
    """A module that no registered row, benchmark or tool imports is
    dead weight: delete it, or import it from where it is needed."""
    unreached = set(package_sources()) - reachable_modules(production_roots())
    assert unreached == UNREACHED_BY_DESIGN, (
        f"package modules no production root imports: "
        f"{sorted(unreached - UNREACHED_BY_DESIGN)}"
    )


_TOY = {
    "a.py": (
        "_SEED = 1\n"
        "def norm(v):\n    return v\n"
        "def seeded():\n    return _SEED\n"
    ),
    "b.py": (
        "_SEED = 2\n"
        "def seeded():\n    return _SEED\n"
        "def local_norm(v):\n    norm = abs(v)\n    return norm\n"
    ),
    "c.py": "from .a import norm as n\ndef uses(v):\n    return n(v)\n",
    "d.py": (
        "def uses(v):\n"
        "    from toy import a as A\n"
        "    return A.norm(v)\n"
    ),
    "e.py": "from .c import uses\ndef again(v):\n    return uses(v)\n",
}


def _toy_package(tmp_path):
    pkg = tmp_path / "toy"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    for name, src in _TOY.items():
        (pkg / name).write_text(src)
    return package_sources(tmp_path, "toy")


def test_closure_resolves_through_the_referencing_module(tmp_path):
    """An edit to ``a._SEED`` and ``a.norm`` reaches what imports them
    (aliased, lazily, or through a re-export) and nothing in ``b``,
    whose own ``_SEED`` and local ``norm`` only share the spelling."""
    old = _toy_package(tmp_path)
    new = dict(old)
    new["toy.a"] = old["toy.a"].replace("_SEED = 1", "_SEED = 3").replace(
        "return v", "return -v"
    )
    direct = changed_defs(old, new)
    assert direct == {("toy.a", "_SEED"), ("toy.a", "norm")}
    closure = changed_closure(Resolver(new), direct)
    assert closure - direct == {
        ("toy.a", "seeded"),
        ("toy.c", "uses"),
        ("toy.d", "uses"),
        ("toy.e", "again"),
    }


def test_closure_keeps_same_named_package_definitions_apart():
    """The two collisions a bare-name closure made in this package:
    ``llm.similarity.norm`` against local variables named ``norm``,
    and one module's ``_SEED`` against the other modules' own."""
    resolver = Resolver(package_sources())
    llm = f"{PACKAGE}.llm"
    norm = changed_closure(resolver, {(f"{llm}.similarity", "norm")})
    assert (f"{llm}.text", "winnow_fingerprints") not in norm  # local `norm`
    assert (f"{llm}.dedup", "embedding_cosine_pairs") in norm
    seed = changed_closure(resolver, {(f"{llm}.wsample", "_SEED")})
    assert {mod for mod, _ in seed} == {f"{llm}.wsample", f"{PACKAGE}.plans.queries_llm"}
    for other in ("distinct", "hashing", "bloom"):
        assert "_SEED" in resolver.defs[f"{llm}.{other}"]
        assert not any(mod == f"{llm}.{other}" for mod, _ in seed)


def test_a_docstring_edit_alone_changes_no_row():
    """A definition changes with its code, not its docstring: rewording
    ``_bbox_overlap_sql``'s docstring flags no registered row, while an
    edit to its predicate still reaches j1_boolean_intersect."""
    from terra_bonobo_nodes_spark.plans.registry import all_queries

    from tests.codegraph import affected_between

    old = package_sources()
    mod = f"{PACKAGE}.operators.spatial"
    doc = '"""JVM-evaluated envelope-overlap predicate'
    code = "element_at({a}, 1) <= element_at({b}, 3)"
    assert old[mod].count(doc) == 1 and old[mod].count(code) == 1
    reworded = dict(old, **{mod: old[mod].replace(doc, '"""The overlap predicate')})
    assert changed_defs(old, reworded) == set()
    assert affected_between(old, reworded, all_queries()) == set()
    edited = dict(old, **{mod: old[mod].replace(code, code.replace("<=", "<"))})
    assert changed_defs(old, edited) == {(mod, "_bbox_overlap_sql")}
    assert "j1_boolean_intersect" in affected_between(old, edited, all_queries())

"""Registry of correctness queries: Spark plan + DuckDB oracle SQL pairs.

Each entry exercises one operator (or a small composition) from
SURVEY.md §2 on the driver's parquet tables. Conventions that keep the
driver's order-insensitive value-hash comparison stable across engines:

- every float output is ``round(x, 4..6)`` in BOTH the Spark plan and
  the oracle SQL (kills summation-order last-ulp drift);
- no raw arrays/structs/timestamps in oracle-checked outputs — arrays
  are reduced or joined to strings, timestamps cast to epoch BIGINT;
- every computed column is aliased identically on both sides.

Queries whose semantics are not SQL-expressible (streaming state,
geometry kernels without a DuckDB spatial extension) register with
``oracle=None`` → the driver records a weaker rows-only check, and the
full semantics are covered by pytest unit tests instead.

Driver-check rotation. The correctness driver walks ``all_queries()``
in dict order and records exactly the first ``DRIVER_CAP`` queries per
round, so the order is part of the verification contract. The rule: no
query's last green driver row may be more than two rounds old.
``_compute_priority`` derives the order at import from the repo-root
CORRECTNESS_r*.json artifacts, in five sections:

1. the due cohort: every query whose last green is >= 2 rounds old,
   oldest round first, within a round in that artifact's order. It is
   computed, never hand-listed, and must fit inside ``DRIVER_CAP``
   together with sections 2 and 3;
2. ``_CHANGED_THIS_ROUND``: queries whose code (or anything it
   references) changed since their last green row — a green row for
   old code is not a green row;
3. ``_NEW_THIS_ROUND``: queries taking their first driver row;
4. ``_DEFERRED_TO_NEXT_ROUND``: changed/new overflow that did not fit;
   it heads the next round;
5. everything else, never-green names first, then stalest green first.

The three hand lists budget exactly one round, ``_ROTATION_ROUND``.
Once CORRECTNESS_r{_ROTATION_ROUND}.json exists they are spent and
``_active_lists`` reads them as empty: each listed name is then green
at that round or re-enters sections 1/5 as due or never-green.

Capacity: at most 144 registered queries (144/50 = 2.88 rounds per full
refresh, >= 6 checks of churn headroom per 3-round window). Adding a
query means retiring or merging one in the same commit; a capability
without a free slot is covered by pytest and tests/test_plan_audit.py.

Authoring a round:

- set ``_ROTATION_ROUND`` to the round the lists budget and empty the
  spent lists;
- in the same commit as any operator edit, add every registered query
  whose plan reaches the edited code to ``_CHANGED_THIS_ROUND`` and
  re-verify it with tests/check_driver.py at sf0.001, sf0.01 and sf0.1;
- add each new registration to ``_NEW_THIS_ROUND``;
- keep due + changed + new <= ``DRIVER_CAP``; overflow goes to
  ``_DEFERRED_TO_NEXT_ROUND``.

tests/test_rotation_freshness.py is the contract: it pins the window,
the cap and the budget arithmetic, and while the lists are active it
derives the changed-code set from git (this file excluded) so a
forgotten entry fails. ``_OPT_FULL_REPLICA_SYMBOLS`` /
``_OPT_FULL_REPLICA_QUERIES`` exempt cross-cutting symbols and queries
from that derivation; only an optimization round may fill them, and
only with a full-registry oracle replica as evidence.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    headline: bool = False  # included in bench.py
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name, fn, oracle, headline, tags)
        return fn

    return deco


DRIVER_CAP = 50  # rows the correctness driver records per round

_ROTATION_ROUND = 18

_CHANGED_THIS_ROUND: tuple[str, ...] = (
    "j1_boolean_intersect",
    "j2_overlay_surface",
    "g_scalar_geometry_surface",
    "g9_line_clip_length",
    "j3_intersection_geom_area",
    "a2_union_on_property_centroid",
    "a4_sql_text_cluster",
    "g7_transform_surface",
    "pipeline_file_import",
    "llm_decontamination_surface",
)

_NEW_THIS_ROUND: tuple[str, ...] = (
    "corpus_drift_psi",
    "llm_novelty_scores",
    "layout_zorder_pruning",
)

_DEFERRED_TO_NEXT_ROUND: tuple[str, ...] = ()

_OPT_FULL_REPLICA_SYMBOLS: tuple[str, ...] = ()
_OPT_FULL_REPLICA_QUERIES: tuple[str, ...] = ()


def _last_green_rounds() -> tuple[int, dict[str, tuple[int, int]]]:
    """Scan the repo-root CORRECTNESS_r*.json artifacts: returns
    (latest_round, {query: (last_green_round, position_in_artifact)}).
    A row is green if it hash-matched, or had rows under the documented
    no-oracle (rows-only) contract."""
    root = Path(__file__).resolve().parents[2]
    latest = 0
    last: dict[str, tuple[int, int]] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        latest = max(latest, rnd)
        for pos, (name, v) in enumerate(rows.items()):
            green = v.get("hash_match") is True or (
                v.get("err") == "no_oracle" and v.get("spark_rows") is not None
            )
            if green and (name not in last or rnd >= last[name][0]):
                last[name] = (rnd, pos)
    return latest, last


def _active_lists(
    latest: int,
) -> tuple[tuple[str, ...], tuple[str, ...], tuple[str, ...]]:
    """The hand-maintained changed/new/deferred lists, or empty tuples
    once the round they budget for has its artifact (lists are spent —
    see the module docstring)."""
    if latest >= _ROTATION_ROUND:
        return (), (), ()
    return _CHANGED_THIS_ROUND, _NEW_THIS_ROUND, _DEFERRED_TO_NEXT_ROUND


def _compute_priority(registered: Iterable[str]) -> list[str]:
    """The five-section ordering of the module docstring, generated
    from the artifacts so a bookkeeping slip can't silently age a query
    out of the rotation."""
    names = list(registered)
    latest, last = _last_green_rounds()
    if not last:
        # Without the artifacts the "stalest green first" sections
        # silently degrade to registration order — the exact failure
        # mode the computed ordering exists to prevent. Warn loudly so
        # an installed-package / moved-artifacts deployment can't
        # pretend the freshness contract is being honored.
        import warnings

        warnings.warn(
            "registry: no CORRECTNESS_r*.json artifacts found next to the "
            "package — correctness-rotation ordering degrades to "
            "registration order (freshness contract NOT enforced)",
            RuntimeWarning,
            stacklevel=2,
        )
    due = [n for n in names if n in last and last[n][0] <= latest - 2]
    due.sort(key=lambda n: last[n])
    changed, new, deferred = _active_lists(latest)
    order: list[str] = []
    seen: set[str] = set()
    for block in (due, changed, new, deferred):
        for n in block:
            if n in names and n not in seen:
                order.append(n)
                seen.add(n)
    rest = [n for n in names if n not in seen]
    # never-checked stragglers (default round 0) before stalest greens
    rest.sort(key=lambda n: last.get(n, (0, -1)))
    order.extend(rest)
    return order


def all_queries() -> dict[str, Query]:
    # Import side-effect modules that populate the registry.
    from terra_bonobo_nodes_spark.plans import (  # noqa: F401
        queries_candidates,
        queries_functions,
        queries_geo,
        queries_llm,
        queries_pipelines,
        queries_relational,
        queries_sources,
        queries_streaming,
    )

    order = _compute_priority(_REGISTRY)
    return {name: _REGISTRY[name] for name in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark_fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle}

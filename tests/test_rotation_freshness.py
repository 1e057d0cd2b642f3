"""The correctness-rotation freshness contract as CI, not prose.

The driver records exactly the first DRIVER_CAP queries of
``registry.all_queries()`` order each round. The standing rule says no
query's last driver green may age past two rounds — round 6 breached it
(``a2_union_area_dissolve`` sat three rounds stale because a
hand-maintained list misfiled it), so the ordering is now computed from
the CORRECTNESS_r*.json artifacts and these tests pin the invariants
that made the breach possible.

Round-aware since round 13 (VERDICT_r12 "What's wrong" #1): the
hand-maintained changed/new lists budget for exactly one round
(``_ROTATION_ROUND``). Before that round's artifact exists the lists
drive the window and these tests enforce their scheduling; once the
driver writes CORRECTNESS_r{_ROTATION_ROUND}.json the lists are spent —
each listed name must then be green at LATEST (obligation met) or sit
in the next window (the computed straggler/due ordering puts never-
green names at its head). Both states are green states for this suite;
a listed name that is neither green nor re-scheduled is the loud
failure."""

from __future__ import annotations

from terra_bonobo_nodes_spark.plans.registry import (
    DRIVER_CAP,
    _CHANGED_THIS_ROUND,
    _DEFERRED_TO_NEXT_ROUND,
    _NEW_THIS_ROUND,
    _ROTATION_ROUND,
    _active_lists,
    _last_green_rounds,
    all_queries,
)

QS = all_queries()
ORDER = list(QS)
WINDOW = set(ORDER[:DRIVER_CAP])
LATEST, LAST = _last_green_rounds()
# mid-round: the lists budget the upcoming window. post-artifact: spent.
ACTIVE = LATEST < _ROTATION_ROUND


def test_artifacts_loaded():
    # the computed ordering is meaningless without the artifacts; if the
    # repo layout moves them this must fail loudly, not sort arbitrarily
    assert LATEST >= 6
    assert len(LAST) >= 100


def test_rotation_round_is_not_stale():
    """The lists may lag the artifacts by at most the one round they
    budget for — a _ROTATION_ROUND two rounds behind LATEST means a
    builder shipped new registrations without authoring the round's
    schedule."""
    assert _ROTATION_ROUND >= LATEST, (
        f"_ROTATION_ROUND={_ROTATION_ROUND} but CORRECTNESS_r{LATEST} "
        "exists — author the current round's changed/new lists"
    )


def test_active_lists_spend_on_artifact():
    changed, new, deferred = _active_lists(LATEST)
    if ACTIVE:
        assert changed == _CHANGED_THIS_ROUND
        assert new == _NEW_THIS_ROUND
        assert deferred == _DEFERRED_TO_NEXT_ROUND
    else:
        assert changed == () and new == () and deferred == ()


def test_due_cohort_fits_inside_the_driver_window():
    """Every query whose last green is >= 2 rounds old MUST be checked
    next round — this is the test that is red on the round-6 tree
    (a2_union_area_dissolve, last green r03, sat at priority slot 137)."""
    due = [n for n in ORDER if n in LAST and LAST[n][0] <= LATEST - 2]
    missing = [n for n in due if n not in WINDOW]
    assert not missing, f"due-cohort queries outside the check window: {missing}"


def test_changed_code_queries_are_scheduled():
    """A green row for old code is not a green row: everything in the
    changed list must be re-checked in its budgeted round — afterwards
    its obligation is met by a green row at that round (or it re-enters
    the demand set as due/straggler and must sit in the next window)."""
    for n in _CHANGED_THIS_ROUND:
        assert n in QS, f"changed-list name {n!r} is not a registered query"
        if ACTIVE:
            assert n in WINDOW, f"changed-code query {n!r} missed the window"
        else:
            assert LAST.get(n, (0,))[0] >= _ROTATION_ROUND or n in WINDOW, (
                f"changed-code query {n!r} is neither green at its "
                f"budgeted round nor re-scheduled in the next window"
            )


def test_new_queries_take_their_first_row_or_are_deferred():
    for n in _NEW_THIS_ROUND:
        assert n in QS, f"new-list name {n!r} is not a registered query"
        if ACTIVE:
            assert n in WINDOW, f"new query {n!r} missed the window"
        else:
            assert LAST.get(n, (0,))[0] >= _ROTATION_ROUND or n in WINDOW, (
                f"new query {n!r} got no green first row and is not at "
                f"the head of the next window"
            )
    for n in _DEFERRED_TO_NEXT_ROUND:
        assert n in QS, f"deferred-list name {n!r} is not a registered query"


def test_deferred_queue_heads_the_next_round():
    """Deferral is one round, not forever: the deferred block must sit
    immediately after the window so next round's recompute (or even an
    unedited registry) checks it first."""
    if not ACTIVE:
        return  # spent lists: never-green names head the window instead
    tail = ORDER[DRIVER_CAP : DRIVER_CAP + len(_DEFERRED_TO_NEXT_ROUND) + 2]
    for n in _DEFERRED_TO_NEXT_ROUND:
        assert n in tail, f"deferred query {n!r} is not at the head of next round"


def test_every_registered_query_is_tracked():
    """No query may exist outside the rotation: it either has a driver
    row already or is explicitly scheduled as new/deferred. Once the
    lists are spent, every registered query must have a row — a listed
    name the driver never greened fails HERE, loudly, instead of
    silently falling out of the schedule."""
    changed, new, deferred = _active_lists(LATEST)
    untracked = [
        n for n in ORDER if n not in LAST and n not in new and n not in deferred
    ]
    assert not untracked, f"queries with no row and no schedule: {untracked}"


def test_registry_capacity_cap():
    """The round-9 capacity policy (registry.py header): at most 144
    registered queries — 2.88 rounds per full refresh at DRIVER_CAP=50,
    keeping >= 6 checks of churn headroom per 3-round freshness window.
    Adding a query requires retiring or merging one in the same commit
    (or routing the new capability through pytest + plan-audit only)."""
    assert len(QS) <= 144, (
        f"{len(QS)} registered queries breaches the 144 capacity cap — "
        "retire/merge a query or cover the new capability with pytest + "
        "test_plan_audit.py instead (see the policy in plans/registry.py)"
    )


def test_budget_arithmetic_holds():
    """due + changed + new must fit in the cap — if a future round
    over-subscribes, this fails at authoring time instead of silently
    dropping the window's tail. Spent lists contribute nothing: their
    names are green at LATEST (out of the demand set for 2 rounds) or
    already counted as due/stragglers."""
    due = {n for n in ORDER if n in LAST and LAST[n][0] <= LATEST - 2}
    changed, new, _ = _active_lists(LATEST)
    demand = due | set(changed) | set(new)
    assert len(demand) <= DRIVER_CAP, (
        f"rotation over-subscribed: {len(demand)} must-check queries for "
        f"{DRIVER_CAP} slots — defer explicitly via _DEFERRED_TO_NEXT_ROUND"
    )


def test_changed_code_list_covers_the_git_diff():
    """VERDICT_r14 item 7: the hand-maintained _CHANGED_THIS_ROUND is
    the one rotation input the artifact-computed ordering can't derive
    — a forgotten entry leaves a stale green looking fresh for up to
    two rounds. This check DERIVES the changed-query set from git
    (tests/codegraph.py): top-level defs/classes/assignments whose
    source changed since the LATEST artifact commit (plans/registry.py
    excluded — editing the schedule itself is not operator change),
    closed under references resolved through each module's own
    bindings and imports (so an edit to a private kernel propagates to
    the public operators that call it, but neither a docstring
    mentioning the word nor another module's same-named definition
    does), mapped onto each registered query's function. Every derived
    name that is not already in the due cohort or the new list must
    appear in _CHANGED_THIS_ROUND.

    Known approximation: post-definition `register(...)(fn)` oracle
    constants link only through symbols the fn body also references."""
    if not ACTIVE:
        return  # lists spent: obligations checked by the other tests
    from terra_bonobo_nodes_spark.plans import registry as _reg
    from tests.codegraph import affected_queries, git

    base = git(
        "log", "-1", "--format=%H", "--", f"CORRECTNESS_r{LATEST}.json"
    ).strip()
    if not base:
        return  # shallow clone / moved artifacts: nothing to derive
    # optimization-phase carve-out: cross-cutting symbols whose change
    # was verified by a FULL 132-row oracle replica instead of rotation
    # slots (see the _OPT_FULL_REPLICA_* note in registry.py) — their
    # propagation would otherwise flag every registered query at once,
    # which the 50-row window cannot absorb by design
    affected = affected_queries(base, QS, _reg._OPT_FULL_REPLICA_SYMBOLS)
    due = {n for n in ORDER if n in LAST and LAST[n][0] <= LATEST - 2}
    missing = (
        affected
        - due
        - set(_NEW_THIS_ROUND)
        - set(_CHANGED_THIS_ROUND)
        - set(_reg._OPT_FULL_REPLICA_QUERIES)
    )
    assert not missing, (
        "queries whose code changed since the last artifact are not "
        f"scheduled (add to _CHANGED_THIS_ROUND): {sorted(missing)}"
    )


def test_registry_warns_without_artifacts(monkeypatch):
    """With no CORRECTNESS artifacts the priority warns loudly instead
    of silently degrading to an arbitrary order."""
    import warnings

    from terra_bonobo_nodes_spark.plans import registry

    monkeypatch.setattr(registry, "_last_green_rounds", lambda: (0, {}))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        registry._compute_priority(["a", "b"])
    assert any("CORRECTNESS" in str(w.message) for w in caught)

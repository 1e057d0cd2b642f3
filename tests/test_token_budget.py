"""Token-budgeted data mixing (llm/corpus.token_budget_sample):
greedy per-source fill in seeded-hash order, crossing document kept,
unbudgeted sources dropped — pinned against an independent Python
reference and checked for append stability."""

from __future__ import annotations

import hashlib
import re

from terra_bonobo_nodes_spark.llm.corpus import token_budget_sample
from tests.conftest import plans_cross_join

_SEED = "tbns-budget-v1"


def _u(doc_id) -> int:
    return int(hashlib.md5(f"{_SEED}{doc_id}".encode()).hexdigest()[:8], 16)


def _ntok(text: str | None) -> int:
    if text is None:
        return 0
    return len([w for w in re.sub(r"[^a-z0-9]+", " ", text.lower()).split() if w])


def _ref(rows, budgets, default=None):
    """rows = [(doc_id, source, text)] -> kept {doc_id: n_tokens}."""
    kept = {}
    by_src: dict[str, list] = {}
    for doc_id, src, text in rows:
        by_src.setdefault(src, []).append((doc_id, text))
    for src, docs in by_src.items():
        budget = budgets.get(src, default)
        if budget is None:
            continue
        acc = 0
        for doc_id, text in sorted(docs, key=lambda d: (_u(d[0]), d[0])):
            if acc < budget:
                kept[doc_id] = _ntok(text)
            acc += _ntok(text)
    return kept


_ROWS = [
    (0, "web", "one two three four"),        # 4 tokens
    (1, "web", "five six seven"),            # 3
    (2, "web", "eight nine"),                # 2
    (3, "code", "def f x return x"),         # 5
    (4, "junk", "drop me entirely"),         # no budget
    (5, "web", "ten eleven twelve etc"),     # 4
]


def _run(spark, rows, budgets, **kw):
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = token_budget_sample(df, budgets, **kw)
    return {r["doc_id"]: r["n_tokens"] for r in out.collect()}


def test_greedy_fill_matches_reference(spark):
    budgets = {"web": 6, "code": 100}
    got = _run(spark, _ROWS, budgets)
    assert got == _ref(_ROWS, budgets)
    # the crossing document is kept: "web" keeps more than 6 tokens'
    # worth only via its boundary doc; junk is dropped wholesale
    assert 4 not in got and 3 in got
    web_kept = [d for d in got if d in (0, 1, 2, 5)]
    assert 1 <= len(web_kept) < 4


def test_default_budget_and_drop(spark):
    got = _run(spark, _ROWS, {"web": 1})
    assert set(got) <= {0, 1, 2, 5}  # code+junk dropped without default
    got2 = _run(spark, _ROWS, {"web": 1}, default_budget=1000)
    assert 3 in got2 and 4 in got2  # default budget admits them


def test_tokens_col_override(spark):
    df = spark.createDataFrame(
        [(0, "a", 10), (1, "a", 10), (2, "a", 10)],
        "doc_id long, source string, my_toks long",
    )
    out = token_budget_sample(
        df, {"a": 15}, tokens_col="my_toks", text_col="my_toks"
    ).collect()
    # 15-token budget: first doc fills 10 < 15, second crosses, third out
    assert len(out) == 2
    assert all(r["n_tokens"] == 10 for r in out)


def test_append_stability_prefix(spark):
    """New arrivals can push the boundary doc out but never admit a
    previously-rejected better-ranked doc or reorder the kept set."""
    budgets = {"web": 8}
    base = [r for r in _ROWS if r[1] == "web"]
    kept_before = set(_run(spark, base, budgets))
    extended = base + [(100, "web", "a b c"), (101, "web", "d e f g h")]
    kept_after = set(_run(spark, extended, budgets))
    ref_after = set(_ref(extended, budgets))
    assert kept_after == ref_after
    # docs kept after the extension that existed before were kept before
    assert (kept_after & {r[0] for r in base}) <= kept_before


def test_empty_and_null_text(spark):
    rows = [(0, "a", None), (1, "a", ""), (2, "a", "real words here")]
    got = _run(spark, rows, {"a": 2})
    assert got == _ref(rows, {"a": 2})
    # zero-token docs consume no budget; they are kept while under it
    assert got.get(2, None) in (3, None)
    # with a budget that keeps everything: NULL/empty text is EXACTLY
    # 0 tokens, never NULL (size(NULL) is NULL without the coalesce —
    # review finding, pinned regardless of where the hash orders them)
    all_kept = _run(spark, rows, {"a": 1000})
    assert all_kept == {0: 0, 1: 0, 2: 3}


def test_empty_corpus_and_no_cross_join(spark):
    assert _run(spark, [], {"a": 10}) == {}
    df = spark.createDataFrame(_ROWS, "doc_id long, source string, text string")
    assert not plans_cross_join(token_budget_sample(df, {"web": 5}))

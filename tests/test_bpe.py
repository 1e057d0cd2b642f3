"""BPE merge learning (llm/bpe.py): the distributed learner vs an
independent pure-Python Sennrich reference (hypothesis-swept),
leftmost-greedy merge semantics, deterministic tie-breaks, the DuckDB
unrolled-CTE mirror, and bpe_apply encode consistency."""

from __future__ import annotations

import re
from collections import Counter

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm import bpe
from terra_bonobo_nodes_spark.plans.audit import executed_plan


# --- independent reference (Sennrich learn_bpe semantics) ---------------------


def _ref_learn(texts: list[str], n_merges: int):
    words = Counter()
    for t in texts:
        for w in re.split(r"[^a-z0-9]+", (t or "").lower()):
            if w:
                words[w] += 1
    vocab = {w: tuple(w) for w in words}
    merges = []
    for r in range(1, n_merges + 1):
        stats: Counter = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += words[w]
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        merges.append((r, a, b, n))
        new_vocab = {}
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[w] = tuple(out)
        vocab = new_vocab
    return merges, vocab


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_learns_the_textbook_example(spark):
    # the classic: 'aaab' x3 + 'aab' -> (a,a) first, then ('aa','a'|
    # depends on counts), deterministic here
    texts = ["aaab aaab aaab aab"]
    got = bpe.bpe_learn(_docs(spark, texts), n_merges=3)
    want, _ = _ref_learn(texts, 3)
    assert got == want
    assert got[0][1:3] == ("a", "a")  # most frequent pair


def test_tie_breaks_are_lexicographic(spark):
    # 'ab' and 'cd' both appear twice: (a,b) wins the tie by pair asc
    texts = ["ab ab cd cd"]
    got = bpe.bpe_learn(_docs(spark, texts), n_merges=1)
    assert got[0][1:4] == ("a", "b", 2)


def test_overlapping_pairs_count_per_position_and_merge_greedy(spark):
    # 'aaa': (a,a) counts twice per word; the merge fuses leftmost ->
    # symbols ('aa', 'a'), so round 2's top pair is ('aa', 'a')
    texts = ["aaa aaa"]
    got = bpe.bpe_learn(_docs(spark, texts), n_merges=2)
    want, vocab = _ref_learn(texts, 2)
    assert got == want
    assert got[0] == (1, "a", "a", 4)
    assert vocab["aaa"] == ("aaa",)


def test_stops_early_when_fully_fused(spark):
    texts = ["ab ab"]
    got = bpe.bpe_learn(_docs(spark, texts), n_merges=10)
    want, _ = _ref_learn(texts, 10)
    assert got == want and len(got) == 1  # one merge fuses everything


@given(
    texts=st.lists(
        st.text(alphabet="abcz 019", min_size=0, max_size=40),
        min_size=1,
        max_size=6,
    ),
    m=st.integers(1, 5),
)
@settings(max_examples=8, deadline=None)
def test_matches_reference_on_random_corpora(spark, texts, m):
    got = bpe.bpe_learn(_docs(spark, texts), n_merges=m)
    want, _ = _ref_learn(texts, m)
    assert got == want


def test_sql_mirror_replays_the_learner(spark):
    from terra_bonobo_nodes_spark.plans.queries_llm import TOKS_SQL

    texts = ["the cat the cat sat", "catamaran thecat", "aaa bbb the"]
    got = bpe.bpe_learn(_docs(spark, texts), n_merges=4)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ", ".join(f"('{t}')" for t in texts)
        + ") t(text)"
    )
    sql = bpe.bpe_merges_sql("SELECT text FROM docs", "text", 4, TOKS_SQL)
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    con.close()
    assert [tuple(g) for g in got] == want


def test_merges_layout_invariant_and_empty(spark):
    """Each round's argmax tie boundary (count desc, pair asc) holds
    under any shuffle partition count; an empty or all-NULL corpus
    learns no merges."""
    from tests.conftest import rows_per_layout

    # many equal pair counts, so every round crosses a tie boundary
    texts = ["ab cd ef gh", "ba dc fe hg", "abcd efgh", None, "cdab ghef"] * 6
    docs = _docs(spark, texts).repartition(4)
    schema = "merge_rank int, sym_a string, sym_b string, pair_count long"
    base, hostile = rows_per_layout(
        spark,
        lambda: spark.createDataFrame(bpe.bpe_learn(docs, n_merges=3), schema),
    )
    assert len(base) == 3 and hostile == base
    assert bpe.bpe_learn(_docs(spark, []), n_merges=3) == []
    assert bpe.bpe_learn(_docs(spark, [None, ""]), n_merges=3) == []


def test_apply_segments_with_learned_merges(spark):
    texts = ["banana bandana", "ban ban banana"]
    merges = bpe.bpe_learn(_docs(spark, texts), n_merges=3)
    seg = (
        _docs(spark, texts)
        .select("doc_id", bpe.bpe_apply("text", merges).alias("syms"))
        .collect()
    )
    _, vocab = _ref_learn(texts, 3)
    by_id = {r["doc_id"]: r["syms"] for r in seg}
    for i, t in enumerate(texts):
        want = [
            s
            for w in re.split(r"[^a-z0-9]+", t.lower())
            if w
            for s in vocab[w]
        ]
        assert by_id[i] == want, (i, t)
    # round-trip: concatenating symbols recovers the tokens
    joined = (
        _docs(spark, texts)
        .select(
            F.concat_ws("", bpe.bpe_apply("text", merges)).alias("j"),
            F.concat_ws(
                "",
                F.split(F.lower("text"), "[^a-z0-9]+"),
            ).alias("w"),
        )
        .collect()
    )
    for r in joined:
        assert r["j"] == r["w"]


def test_rejects_bad_n_merges(spark):
    with pytest.raises(ValueError):
        bpe.bpe_learn(_docs(spark, ["x"]), n_merges=0)
    with pytest.raises(ValueError):
        bpe.bpe_merges_sql("SELECT 1", "text", 0, "x")


# --- word table + Arrow-batched encode (word_frequencies, encode_words) -------


def test_word_frequencies_is_distributed_topk(spark):
    """The top-k cut is a distributed TakeOrderedAndProject, not a
    global row_number window."""
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat")], "doc_id long, text string"
    )
    wf = bpe.word_frequencies(docs, max_words=3)
    plan = executed_plan(wf)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    rows = [(r.word, r.n) for r in wf.collect()]
    # count desc, word asc (GPT-2-style pretokens keep the leading
    # space, and " sat" sorts before "the") — deterministic truncation
    assert rows == [(" sat", 2), ("the", 2), (" cat", 1)]


def test_encode_words_string_id(spark):
    """The mapInPandas schema derives the id type from the input, so
    string doc ids survive the Arrow boundary."""
    docs = spark.createDataFrame(
        [("doc-a", "hug hug pun"), ("doc-b", "bun")], "doc_id string, text string"
    )
    merges = bpe.train_bpe([("hug", 10), ("pun", 12), ("bun", 4)], n_merges=4)
    enc = bpe.encode_words(docs, merges)
    assert dict(enc.dtypes)["doc_id"] == "string"
    got = {r.doc_id: r.bpe_tokens for r in enc.collect()}
    assert set(got) == {"doc-a", "doc-b"}
    assert "".join(got["doc-a"]).startswith("hug")
    counts = {r.doc_id: r.n_bpe_tokens for r in bpe.bpe_token_count(docs, merges).collect()}
    assert counts["doc-a"] >= 3  # three words at least one token each


# --- empty corpus: well-formed results, no crash -----------------------------


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id BIGINT, text STRING")


def test_bpe_word_frequencies_empty_corpus(spark, empty_docs):
    wf = bpe.word_frequencies(empty_docs)
    assert wf.columns == ["word", "n"]
    assert wf.count() == 0


def test_bpe_train_on_empty_frequency_table(spark, empty_docs):
    assert bpe.train_bpe(bpe.word_frequencies(empty_docs), n_merges=10) == []
    assert bpe.train_bpe([], n_merges=10) == []


def test_bpe_encode_empty_corpus_keeps_schema(spark, empty_docs):
    enc = bpe.encode_words(empty_docs, merges=[("a", "b")])
    assert enc.columns == ["doc_id", "bpe_tokens"]
    assert enc.count() == 0
    cnt = bpe.bpe_token_count(empty_docs, merges=[])
    assert cnt.columns == ["doc_id", "n_bpe_tokens"]
    assert cnt.count() == 0

"""Hypothesis sweeps for the second-continuation operators: random
inputs vs independent Python references / the DuckDB mirrors, the
same discipline the core ops carry (links/layout precedents)."""

from __future__ import annotations

import hashlib
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from terra_bonobo_nodes_spark.llm.corpus import stride_interleave
from terra_bonobo_nodes_spark.llm.distinct import kmv_set_ops, kmv_sketch
from terra_bonobo_nodes_spark.llm.text import readability

# --- stride interleave vs python reference -----------------------------------

_ONE = 1 << 20


def _stride_ref(rows, weights):
    def h(did):
        return int(
            hashlib.md5(f"tbns-stride-v1{did}".encode()).hexdigest()[:8], 16
        )

    out = {}
    by_src = {}
    for did, src in rows:
        if src in weights:
            by_src.setdefault(src, []).append(did)
    for src, ids in by_src.items():
        ids.sort(key=lambda d: (h(d), d))
        for j, did in enumerate(ids):
            out[did] = (j, (2 * j + 1) * _ONE // (2 * weights[src]))
    return out


@given(
    ids=st.lists(st.integers(0, 200), min_size=1, max_size=40, unique=True),
    w_a=st.integers(1, 9),
    w_b=st.integers(1, 9),
)
@settings(max_examples=10, deadline=None)
def test_stride_matches_reference(spark, ids, w_a, w_b):
    rows = [(i, "a" if i % 2 else "b") for i in ids]
    weights = {"a": w_a, "b": w_b}
    got = {
        r["doc_id"]: (r["src_rank"], r["interleave_key"])
        for r in stride_interleave(
            spark.createDataFrame(rows, "doc_id long, source string"), weights
        ).collect()
    }
    assert got == _stride_ref(rows, weights)


# --- kmv set ops vs python reference ------------------------------------------


def _kmv_ref(sets, k):
    def h(v):
        return int(
            hashlib.md5(f"tbns-distinct-v1-{v}".encode()).hexdigest()[:15], 16
        )

    sk = {g: sorted({h(v) for v in vs})[:k] for g, vs in sets.items() if vs}
    out = {}
    for ga in sorted(sk):
        for gb in sorted(sk):
            if ga >= gb:
                continue
            merged = sorted(set(sk[ga]) | set(sk[gb]))[:k]
            size = len(merged)
            a, b = set(sk[ga]), set(sk[gb])
            shared = sum(1 for x in merged if x in a and x in b)
            est = size if size < k else ((k - 1) << 60) // merged[-1]
            out[(ga, gb)] = (size, est, shared, size, (shared * est) // size)
    return out


@given(
    na=st.integers(0, 30),
    nb=st.integers(0, 30),
    overlap=st.integers(0, 15),
    k=st.integers(4, 16),
)
@settings(max_examples=10, deadline=None)
def test_kmv_set_ops_matches_reference(spark, na, nb, overlap, k):
    sets = {
        "a": [f"v{i}" for i in range(na)],
        "b": [f"v{i}" for i in range(na - overlap, na - overlap + nb)],
    }
    rows = [(g, v) for g, vs in sets.items() for v in vs]
    if not rows:
        return
    df = spark.createDataFrame(rows, "group string, value string")
    got = {
        (r["group_a"], r["group_b"]): tuple(r)[2:]
        for r in kmv_set_ops(kmv_sketch(df, k=k), k=k).collect()
    }
    assert got == _kmv_ref(sets, k)


# --- readability vs python reference ------------------------------------------


def _read_ref(text):
    t = text or ""
    toks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
    # the contract strips the EXPLICIT ASCII whitespace class — not
    # .strip()'s unicode set, which no pair of engines agrees on
    # (see llm/text.py readability); the U+00A0 case below pins it
    sents = [s for s in re.split(r"[.!?]+", t) if s.strip(" \t\n\x0b\f\r")]
    n_s = max(1, len(sents))
    syl = sum(
        max(1, len([g for g in re.split(r"[^aeiouy]+", w) if g]))
        for w in toks
    )
    n_w = len(toks)
    if n_w == 0:
        return (n_w, n_s, syl, None, None)
    return (
        n_w, n_s, syl,
        206835 - (1015 * n_w) // n_s - (84600 * syl) // n_w,
        (390 * n_w) // n_s + (11800 * syl) // n_w - 15590,
    )


@given(
    texts=st.lists(
        st.text(
            alphabet="abcdefgz .!?\n0123456789,;", min_size=0, max_size=120
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=10, deadline=None)
def test_readability_matches_reference(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: (
            r["r_n_words"], r["r_n_sentences"], r["r_n_syllables"],
            r["r_flesch_milli"], r["r_fk_grade_milli"],
        )
        for r in readability(df).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _read_ref(t), (i, repr(t))


def test_stride_key_no_int32_wrap_past_2e30_ranks(spark):
    """ADVICE r15 (corpus.py): the interleave key must widen src_rank
    to BIGINT before the *2 — row_number yields INT, so ranks past
    ~2^30 wrapped negative under the old expression. Evaluates the
    exact production expression against injected large ranks."""
    from terra_bonobo_nodes_spark.llm.corpus import _interleave_key_expr

    stride = 1 << 20
    # src_rank INT, exactly like the production row_number()-1 column;
    # 2*((1<<31)-2)+1 wraps negative in int32 arithmetic
    ranks = [0, 1, (1 << 30) + 7, (1 << 31) - 2]
    df = spark.createDataFrame(
        [(r, 3) for r in ranks], "src_rank int, _w long"
    )
    got = {
        r["src_rank"]: r["k"]
        for r in df.withColumn("k", _interleave_key_expr(stride)).collect()
    }
    for r in ranks:
        assert got[r] == ((2 * r + 1) * stride) // 6, r
        assert got[r] > 0


def test_readability_whitespace_only_fragments(spark):
    """Pinned VERDICT_r14 item 1: trailing fragments that are whitespace
    but not ASCII-space ("0?\\n" -> the "\\n" fragment) must NOT count
    as sentences — Spark's trim() strips only spaces, so the original
    length(trim(s)) > 0 filter counted 2 sentences where the reference
    (.strip()) counts 1."""
    # the U+00A0 case pins the C-locale contract: a NON-ASCII
    # whitespace fragment IS a sentence, identically on all engines
    texts = ["0?\n", "a.\t", "x!\n\t \n", "b? c.", " . ", "\t?\t", "hi. "]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: (
            r["r_n_words"], r["r_n_sentences"], r["r_n_syllables"],
            r["r_flesch_milli"], r["r_fk_grade_milli"],
        )
        for r in readability(df).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _read_ref(t), (i, repr(t))
    assert got[0][1] == 1  # "0?\n": exactly one sentence, not two

"""Sentence segmentation + stats (llm/sentences.py)."""

from __future__ import annotations

import duckdb
import pytest

from terra_bonobo_nodes_spark.llm.sentences import (
    sentence_stats,
    sentence_stats_sql,
    split_sentences,
    split_sentences_sql,
)

DOCS = [
    (0, "First sentence. Second one! Third? tail without terminator"),
    (1, "Dr. Smith went home."),  # documented: abbreviations split
    (2, ""),
    (3, None),
    (4, "no terminators at all just words"),
    (5, "One.    Two.\n\nThree."),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_split_pinned_cases(spark, docs):
    got = {
        r["doc_id"]: list(r["s"])
        for r in docs.select(
            "doc_id", split_sentences("text").alias("s")
        ).collect()
    }
    assert got[0] == [
        "First sentence.", "Second one!", "Third?",
        "tail without terminator",
    ]
    assert got[1] == ["Dr.", "Smith went home."]  # the stated contract
    assert got[2] == [] and got[3] == []
    assert got[4] == ["no terminators at all just words"]
    assert got[5] == ["One.", "Two.", "Three."]


def test_split_sql_mirror(spark, docs):
    got = {
        r["doc_id"]: list(r["s"])
        for r in docs.select(
            "doc_id", split_sentences("text").alias("s")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join(
            # E-string so embedded \n escapes are interpreted by DuckDB
            f"({i}, {'NULL' if t is None else 'E' + repr(t)})" for i, t in DOCS
        )
        + ") t(doc_id, text)"
    )
    want = dict(
        con.execute(
            f"SELECT doc_id, {split_sentences_sql('text')} FROM d"
        ).fetchall()
    )
    assert got == want


def test_stats_values_and_sql_mirror(spark, docs):
    out = sentence_stats(docs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["sent_n"] == 4
    assert rows[0]["sent_n_terminated"] == 3
    assert rows[0]["sent_mean_words"] == pytest.approx((2 + 2 + 1 + 3) / 4)
    # short (<3 words): 'First sentence.'(2), 'Second one!'(2), 'Third?'(1)
    assert rows[0]["sent_frac_short"] == pytest.approx(0.75)
    assert rows[2]["sent_n"] == 0 and rows[2]["sent_mean_words"] == 0.0
    assert rows[3]["sent_n"] == 0  # NULL-as-empty
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join(
            # E-string so embedded \n escapes are interpreted by DuckDB
            f"({i}, {'NULL' if t is None else 'E' + repr(t)})" for i, t in DOCS
        )
        + ") t(doc_id, text)"
    )
    want = {
        r[0]: r[1:]
        for r in con.execute(
            f"SELECT doc_id, {sentence_stats_sql('text')} FROM d"
        ).fetchall()
    }
    got = {
        r["doc_id"]: (
            r["sent_n"], r["sent_n_terminated"],
            r["sent_mean_words"], r["sent_frac_short"],
        )
        for r in out.collect()
    }
    assert got == want


def test_stats_plan_is_pure_projection(spark, docs):
    plan = (
        sentence_stats(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402
import re as _re  # noqa: E402


def _py_split(t: str | None) -> list[str]:
    out = []
    for m in _re.findall(r"[^.!?]*[.!?]+|[^.!?]+$", t or ""):
        s = _re.sub(r"^\s+|\s+$", "", m)
        if s:
            out.append(s)
    return out


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(alphabet="ab .!?\n\t", min_size=0, max_size=60),
                min_size=1, max_size=5))
def test_hypothesis_split_matches_python_reference(spark, texts):
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: list(r["s"])
        for r in df.select(
            "doc_id", split_sentences("text").alias("s")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_split(t), (i, t)


# --- NFKC scrub (llm/scrub.py) — grouped here with the other round-14
# pre-tokenization signals ----------------------------------------------------


def test_nfkc_scrub_folds_and_strips(spark):
    import unicodedata

    from terra_bonobo_nodes_spark.llm.scrub import nfkc_scrub

    rows = [
        (0, "ｆｉｌｅ"),          # fullwidth 'file'
        (1, "ﬁle"),                            # ligature fi + 'le'
        (2, "a\x00b\x07c\td\ne"),                  # controls; keep \t \n
        (3, None),
        (4, "① µ"),                      # circled 1, micro sign
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text_nfkc"] for r in nfkc_scrub(df).collect()
    }
    assert got[0] == "file"
    assert got[1] == "file"
    assert got[2] == "abc\td\ne"     # NUL/BEL stripped, structure kept
    assert got[3] is None            # rewriter: NULL passes through
    # pinned against the same stdlib the executors run
    assert got[4] == unicodedata.normalize("NFKC", rows[4][1])


def test_nfkc_scrub_keep_controls_option(spark):
    from terra_bonobo_nodes_spark.llm.scrub import nfkc_scrub

    df = spark.createDataFrame([(0, "a\x07b")], "doc_id long, text string")
    out = nfkc_scrub(df, strip_controls=False).collect()[0]["text_nfkc"]
    assert out == "a\x07b"

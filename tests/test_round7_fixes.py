"""Round-7 defect fixes (the six deferred ADVICE_r05 items plus the
four ADVICE_r06 items), each pinned by the failure scenario the advice
described."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


# --- ADVICE_r05: empty-query-side schema drift (similarity.py) --------------


def _string_id_corpus(spark):
    rows = [(f"d{i}", [float(i), 1.0, 0.5]) for i in range(6)]
    return spark.createDataFrame(rows, "vec_id string, embedding array<double>")


def test_brute_force_topk_empty_query_schema_matches_nonempty(spark):
    from terra_bonobo_nodes_spark.llm.similarity import brute_force_topk

    corpus = _string_id_corpus(spark)
    empty_q = corpus.limit(0)
    nonempty = brute_force_topk(corpus, corpus.limit(2), k=2, query_id_col="query_id")
    empty = brute_force_topk(corpus, empty_q, k=2, query_id_col="query_id")
    assert empty.dtypes == nonempty.dtypes  # previously hardcoded bigint ids
    assert empty.count() == 0


def test_quantized_rerank_empty_query_schema_matches_nonempty(spark):
    from terra_bonobo_nodes_spark.llm.similarity import quantized_rerank_topk

    corpus = _string_id_corpus(spark)
    nonempty = quantized_rerank_topk(corpus, corpus.limit(2), k=2, coarse_k=3)
    empty = quantized_rerank_topk(corpus, corpus.limit(0), k=2, coarse_k=3)
    assert empty.dtypes == nonempty.dtypes
    assert empty.count() == 0


# --- ADVICE_r05: pii_redact_sql single-quote injection -----------------------


def test_pii_redact_sql_escapes_single_quotes(duck):
    from terra_bonobo_nodes_spark.llm.scrub import pii_redact_sql

    # a pattern containing a single quote must stay inside the literal
    expr = pii_redact_sql("t", patterns={"apos": r"\w+'s"})
    got = duck.execute(f"SELECT {expr} AS r FROM (SELECT 'the cat''s hat' AS t)").fetchone()[0]
    assert got == "the <APOS> hat"


# --- ADVICE_r05: empty-dict guards in quality.py -----------------------------


def test_check_constraints_rejects_empty_dict(spark):
    from terra_bonobo_nodes_spark.operators.quality import check_constraints

    df = spark.range(3)
    with pytest.raises(ValueError, match="checks dict is empty"):
        check_constraints(df, {})


def test_profile_columns_rejects_no_columns(spark):
    from terra_bonobo_nodes_spark.operators.quality import profile_columns

    df = spark.range(3)
    with pytest.raises(ValueError, match="no columns"):
        profile_columns(df, [], [])


# --- ADVICE_r05: jsonl keep_cols / schema field collision ---------------------


def test_jsonl_keep_cols_collision_fails_fast(spark):
    from terra_bonobo_nodes_spark.sources.jsonl import jsonl_documents_to_rows

    df = spark.createDataFrame(
        [("a", '{"id": 1, "text": "x"}')], "id string, content string"
    )
    with pytest.raises(ValueError, match="collide"):
        jsonl_documents_to_rows(df, schema="id BIGINT, text STRING", keep_cols=["id"])
    # non-colliding keep_cols still work
    ok = jsonl_documents_to_rows(
        df.withColumnRenamed("id", "src"),
        schema="id BIGINT, text STRING",
        keep_cols=["src"],
    )
    assert ok.columns == ["src", "id", "text"] and ok.count() == 1


# --- ADVICE_r05: stream_static_enrich key_expr is required --------------------


def test_stream_static_enrich_requires_key_expr(spark):
    from terra_bonobo_nodes_spark.streaming import ops

    ev = spark.createDataFrame([(1, 3)], "event_id long, user_id long")
    dim = spark.createDataFrame([(3, "x")], "k int, name string")
    with pytest.raises(TypeError):
        ops.stream_static_enrich(ev, dim)  # no default key any more
    with pytest.raises(ValueError, match="key_expr is required"):
        ops.stream_static_enrich(ev, dim, key_expr=None, dim_key="k")
    got = ops.stream_static_enrich(
        ev, dim, key_expr=F.col("user_id"), dim_key="k"
    ).collect()
    assert len(got) == 1 and got[0]["name"] == "x"


# --- ADVICE_r06: JPEG 0xFF fill bytes before markers --------------------------


def test_jpeg_fill_bytes_before_markers_decode_identically():
    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    plain = encode_jpeg(24, 16, img.tobytes())
    want = decode_jpeg(plain)
    # T.81 B.1.1.2: pad the first header marker after SOI with fill FFs
    padded = plain[:2] + b"\xff\xff\xff" + plain[2:]
    assert decode_jpeg(padded) == want


# --- ADVICE_r06: presig fast-path validation in minhash_lsh_match -------------


def test_minhash_lsh_match_rejects_non_array_sig_column(spark):
    from terra_bonobo_nodes_spark.llm.dedup import minhash_lsh_match

    new = spark.createDataFrame(
        [(1, "some text here", "coincidence")], "doc_id long, text string, sig string"
    )
    corpus = spark.createDataFrame([(2, "some text here")], "doc_id long, text string")
    with pytest.raises(ValueError, match="expected array<bigint>"):
        minhash_lsh_match(new, corpus, n_hashes=8, bands=4)
    # a coincidental array<double> of the right LENGTH must also refuse
    # (the post-review hardening: length alone was not enough)
    embed = spark.createDataFrame(
        [(1, "some text here", [float(i) for i in range(8)])],
        "doc_id long, text string, sig array<double>",
    )
    with pytest.raises(ValueError, match="expected array<bigint>"):
        minhash_lsh_match(embed, corpus, n_hashes=8, bands=4)


def test_minhash_lsh_match_rejects_wrong_length_sig(spark):
    from terra_bonobo_nodes_spark.llm.dedup import minhash_lsh_match
    from terra_bonobo_nodes_spark.llm.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    # signatures built with DIFFERENT n_hashes: silently wrong before r7
    presig = minhash_signatures(docs, "text", "doc_id", n_hashes=8, shingle_n=3)
    out = minhash_lsh_match(
        docs.join(presig.select("doc_id", "sig"), "doc_id"),
        docs,
        n_hashes=16,
        bands=4,
        shingle_n=3,
    )
    with pytest.raises(Exception, match="length != n_hashes"):
        out.collect()


def test_minhash_lsh_match_accepts_valid_presig(spark):
    from terra_bonobo_nodes_spark.llm.dedup import minhash_lsh_match, minhash_signatures

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(3)],
        "doc_id long, text string",
    )
    presig = minhash_signatures(docs, "text", "doc_id", n_hashes=16, shingle_n=3)
    fast = minhash_lsh_match(
        docs.join(presig.select("doc_id", "sig"), "doc_id"),
        docs,
        n_hashes=16,
        bands=4,
        shingle_n=3,
    )
    slow = minhash_lsh_match(docs, docs, n_hashes=16, bands=4, shingle_n=3)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))


# --- codec throughput stage (bench row, round 7) ------------------------------


def test_codec_roundtrip_deterministic_and_correct(spark):
    import numpy as np

    from terra_bonobo_nodes_spark.llm import multimodal

    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    a = {r.asset_id: r for r in multimodal.codec_roundtrip_seeded(ids).collect()}
    b = {r.asset_id: r for r in multimodal.codec_roundtrip_seeded(ids).collect()}
    assert a.keys() == b.keys() and len(a) == 12
    for k in a:
        assert tuple(a[k]) == tuple(b[k])  # bit-stable across runs
    # format round-robin and dimensions
    assert {r.fmt for r in a.values()} == {"png", "jpeg", "jpeg_progressive"}
    assert all((r.width, r.height) == (48, 32) for r in a.values())
    # PNG is lossless: its means must equal the synthesized image's
    rng = np.random.RandomState(0)
    img = rng.randint(0, 256, size=(32, 48, 3)).astype(np.uint8)
    assert a[0].fmt == "png"
    assert a[0].mean_r == round(float(img[..., 0].mean()), 4)
    # JPEG is lossy but close on noise means (DC is exact to ~q/2)
    assert abs(a[1].mean_r - 127.5) < 30


# --- partition/key skew diagnostic (round 7) -----------------------------------


def test_partition_skew_report(spark):
    from terra_bonobo_nodes_spark.operators.quality import partition_skew_report

    df = (
        spark.range(1000)
        .withColumn(
            "k",
            F.when(F.col("id") < 900, "hot").otherwise(F.col("id").cast("string")),
        )
        .repartition(4)
    )
    rows = {
        (r.facet, r.key): r.n_rows
        for r in partition_skew_report(df, ["k"], top_n=3).collect()
    }
    parts = {k: v for (f, k), v in rows.items() if f == "partition"}
    hot = {k: v for (f, k), v in rows.items() if f == "hot_key"}
    assert sum(parts.values()) == 1000 and len(parts) == 4
    assert hot["hot"] == 900 and len(hot) == 3
    # physical facet alone when no keys are given
    assert {r.facet for r in partition_skew_report(df).collect()} == {"partition"}

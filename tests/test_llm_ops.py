"""Unit tests for the LLM training-data operators: semantics the SQL
oracles can't express — dedup behavior on known near-duplicates, ANN
recall against the exact answer, multimodal mapInPandas plumbing."""

from __future__ import annotations

import hashlib
import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm import dedup, multimodal, similarity, text

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "on the warm windowsill in the afternoon sun near the garden"
)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE + " extra words appended here"),  # near dup of 0
        (3, "The  quick brown fox... jumps over the lazy DOG while the cat "
            "sleeps on the warm windowsill in the afternoon sun near the garden"),
        # ^ normalizes to exactly doc 0
        (4, "completely different content about spark query engines and "
            "distributed shuffle partitioning strategies at scale"),
        (5, "another unrelated text mentioning elasticsearch indexes and "
            "geospatial feature layers with polygon geometries"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(near_dup_docs):
    kept = dedup.exact_dedup(near_dup_docs, "text", "doc_id")
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # 0, 1, 3 normalize identically -> keep 0; others survive
    assert ids == {0, 2, 4, 5}


def test_exact_dup_groups(near_dup_docs):
    groups = dedup.exact_dup_groups(near_dup_docs, "text", "doc_id")
    big = {r.keep_id: r.n_docs for r in groups.collect() if r.n_docs > 1}
    assert big == {0: 3}


def test_minhash_lsh_finds_near_dups(near_dup_docs):
    pairs = dedup.minhash_lsh_pairs(
        near_dup_docs, "text", "doc_id", n_hashes=32, bands=8, shingle_n=5
    )
    got = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
    assert got.get((0, 1)) == 1.0
    assert got.get((0, 3)) == 1.0
    assert (0, 2) in got and got[(0, 2)] > 0.5  # near dup
    assert (4, 5) not in got  # unrelated pair never collides in a band


def test_minhash_estimate_tracks_true_jaccard(near_dup_docs):
    pairs = dedup.minhash_lsh_pairs(
        near_dup_docs, "text", "doc_id", n_hashes=64, bands=16, shingle_n=5
    )
    exact = dedup.ngram_jaccard_pairs(
        near_dup_docs, "text", "doc_id", shingle_n=5, word_grams=False,
        min_jaccard=0.0,
    )
    est = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
    true = {(r.id_a, r.id_b): r.jaccard for r in exact.collect()}
    for pair, e in est.items():
        assert abs(e - true[pair]) < 0.25, f"{pair}: est {e} vs true {true[pair]}"


def test_simhash_near_dups_low_hamming(spark, near_dup_docs):
    pairs = dedup.simhash_pairs(
        near_dup_docs, "text", "doc_id", bits=32, max_hamming=7
    )
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got.get((0, 1)) == 0
    assert got.get((0, 3)) == 0
    assert (0, 2) in got  # near dup within 7 bits
    assert (4, 5) not in got


def test_simhash_hamming_tracks_true_cosine(spark):
    """Estimator-vs-truth bias check (the MinHash-poly-hash lesson: a
    biased estimator can be identical on both engines and invisible to
    the cross-engine oracle). SimHash with random ±1 hyperplanes obeys
    P(bit differs) ≈ angle/π, so cos(π · hamming/bits) must track the
    TRUE cosine between the token-frequency vectors — computed here
    independently, driver-side, from the same normalized tokens."""
    import math

    # Per-pair the estimator is NOISY (σ(cos) ≈ 0.17 at 48 bits — a
    # single pair can land 2σ out with md5's fixed outcome), so a
    # per-pair tolerance tests nothing. A BIAS (the MinHash-poly
    # failure mode) shifts the MEAN, so pin the mean over 30 pairs with
    # disjoint vocabularies (independent md5 hyperplanes): σ(mean) ≈
    # 0.17/√30 ≈ 0.03, tolerance 0.1 ≈ 3σ.
    bits = 48  # 1 << 47 stays inside signed-long literal range
    n_pairs = 30
    rows, truth = [], {}
    aa = lambda n: chr(97 + n // 26) + chr(97 + n % 26)  # noqa: E731
    for j in range(n_pairs):
        # pure-alphabetic tokens: normalize() splits digits/punct apart
        v = [f"q{aa(j)}{aa(i)}" for i in range(60)]
        # a = v[0:40], b = v[20:60]: share 20 of 40 -> true cosine 0.5
        rows.append((2 * j, " ".join(v[:40])))
        rows.append((2 * j + 1, " ".join(v[20:])))
        truth[(2 * j, 2 * j + 1)] = 0.5
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = {
        r.doc_id: r.simhash
        for r in dedup.simhash_col(df, "text", "doc_id", bits=bits).collect()
    }
    ests = [
        math.cos(math.pi * bin(sh[a] ^ sh[b]).count("1") / bits)
        for (a, b) in truth
    ]
    mean_est = sum(ests) / len(ests)
    assert abs(mean_est - 0.5) < 0.1, f"simhash estimator biased: {mean_est}"
    # identical docs must hash identically (hamming 0, est exactly 1)
    dup = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    shd = {
        r.doc_id: r.simhash
        for r in dedup.simhash_col(dup, "text", "doc_id", bits=bits).collect()
    }
    assert shd[0] == shd[1]


def test_brute_force_topk_query_cap(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.limit(8)
    with pytest.raises(ValueError, match="max_query_rows"):
        similarity.brute_force_topk(emb, q, k=3, max_query_rows=5)
    # at-cap passes
    out = similarity.brute_force_topk(emb, q, k=3, max_query_rows=8)
    assert out.select("query_id").distinct().count() == 8


def test_simhash_block_count_guard(near_dup_docs):
    # ValueError since the r14 delegation to phash.hamming_pairs (the
    # shared kernel raises instead of asserting — survives python -O)
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_pairs(
            near_dup_docs, "text", "doc_id", bits=32, max_hamming=5, n_blocks=4
        )


def test_minhash_lsh_band_count_guard(near_dup_docs):
    # a ValueError, not an assert: under python -O a band count that
    # does not divide n_hashes would truncate rows_per_band and leave
    # the trailing signature components unbanded
    with pytest.raises(ValueError, match="bands must divide n_hashes"):
        dedup.minhash_lsh_pairs(near_dup_docs, "text", "doc_id", n_hashes=10, bands=4)
    with pytest.raises(ValueError, match="bands must divide n_hashes"):
        dedup.minhash_lsh_match(near_dup_docs, near_dup_docs, n_hashes=10, bands=4)


def test_ngram_jaccard_exact_values(spark):
    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c e"), (2, "x y z w")], ["doc_id", "text"]
    )
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_n=2, word_grams=True, min_jaccard=0.0
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    # doc0 2-grams {ab, bc, cd}, doc1 {ab, bc, ce}: 2 common / 4 union
    assert got[(0, 1)] == pytest.approx(0.5)
    assert (0, 2) not in got


def test_lsh_ann_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.where(F.col("vec_id") < 20)
    exact = similarity.brute_force_topk(emb, q, k=5)
    approx = similarity.lsh_topk(emb, q, k=5, n_planes=4, n_tables=8, dim=64)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ap = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    # 8 OR-tables of 4 planes: per-table hit prob ~0.15 for 60-degree
    # neighbors -> union recall well above one-half
    assert recall > 0.5, f"recall {recall}"
    # every approx hit must score identically to the exact computation
    ex_scores = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact.collect()}
    for r in approx.collect():
        key = (r.query_id, r.neighbor_id)
        if key in ex_scores:
            assert r.cos_sim == ex_scores[key]


def test_ivf_ann_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.where(F.col("vec_id") < 20)
    exact = similarity.brute_force_topk(emb, q, k=5)
    approx = similarity.ivf_topk(emb, q, k=5, n_clusters=8, n_probe=3)
    ex_scores = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact.collect()}
    ap = [(r.query_id, r.neighbor_id, r.cos_sim) for r in approx.collect()]
    recall = len({(a, b) for a, b, _ in ap} & set(ex_scores)) / len(ex_scores)
    # probing 3 of 8 cells over label-clustered vectors
    assert recall > 0.4, f"recall {recall}"
    # every IVF hit scores identically to the exact computation
    for qid, nid, cos in ap:
        if (qid, nid) in ex_scores:
            assert cos == ex_scores[(qid, nid)]


def test_ivf_train_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    c1 = similarity.ivf_train(emb, n_clusters=4, iterations=2)
    c2 = similarity.ivf_train(emb, n_clusters=4, iterations=2)
    assert c1 == c2


def test_ivf_train_empty_corpus_raises_typed(spark):
    empty = spark.createDataFrame([], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="ivf_train"):
        similarity.ivf_train(empty, n_clusters=4)


def test_ivf_train_fewer_vectors_than_clusters_raises_typed(spark):
    """A corpus smaller than the codebook fails typed, not with an
    opaque numpy AxisError."""
    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="n_clusters=4"):
        similarity.ivf_train(tiny, n_clusters=4)


def test_embedding_cosine_pairs_symmetric_threshold(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9999, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    pairs = dedup.embedding_cosine_pairs(emb, threshold=0.99)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(0, 1)}


def test_quality_score_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    scored = text.quality_score(docs, "text")
    rows = scored.select("q_score", "q_alpha_ratio", "q_punct_ratio").collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.q_score <= 1.0
        assert 0.0 <= r.q_alpha_ratio <= 1.0


def test_lang_id_on_clear_text(spark):
    docs = spark.createDataFrame(
        [
            (0, "the cat and the dog are in the house for a nap"),
            (1, "le chat et la maison des gens est une belle chose que"),
            (2, "der hund und die katze ist ein tier zu hause von hier"),
            (3, "xxxxx qqqqq zzzzz"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.lang_pred for r in text.lang_id(docs, "text").collect()}
    assert got == {0: "en", 1: "fr", 2: "de", 3: "und"}


# --- multimodal plumbing ----------------------------------------------------


def test_multimodal_decode_features_match_python(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(20)
    assets = multimodal.documents_as_assets(docs)
    feats = multimodal.decode_features(assets).collect()
    raw = {r.doc_id: r.text for r in docs.collect()}
    assert len(feats) == len(raw)
    for r in feats:
        payload = raw[r.asset_id].encode("utf-8")
        assert r.n_bytes == len(payload)
        assert r.payload_md5 == hashlib.md5(payload).hexdigest()
        assert r.features == multimodal.fake_feature_vector(payload)


def test_multimodal_decode_image_stub_raises(spark, near_dup_docs):
    assets = multimodal.documents_as_assets(near_dup_docs)
    with pytest.raises(Exception) as exc:
        multimodal.decode_image(assets).collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError
    )


def test_multimodal_decode_image_with_injected_decoder(spark, near_dup_docs):
    def fake_decoder(payload: bytes):
        return (640, 480, payload[:16])

    assets = multimodal.documents_as_assets(near_dup_docs)
    rows = multimodal.decode_image(assets, decoder=fake_decoder).collect()
    assert len(rows) == near_dup_docs.count()
    for r in rows:
        assert (r.width, r.height) == (640, 480)
        assert (r.resized_w, r.resized_h) == (224, 224)


def test_multimodal_frame_sampling(spark):
    docs = spark.createDataFrame([(1, "video-bytes")], ["doc_id", "text"])
    assets = multimodal.documents_as_assets(docs).withColumn(
        "meta",
        F.struct(
            F.lit("video").alias("modality"),
            F.lit("video/mp4").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(3500).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ),
    )
    frames = multimodal.sample_frames(assets, every_ms=1000).collect()
    assert [r.frame_ms for r in frames] == [0, 1000, 2000, 3000]
    assert all(len(r.frame) == 16 for r in frames)  # md5 stub frames


def test_connected_components_chain_and_clusters(spark):
    # chain 1-2-3-4, triangle 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    comp = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_on_minhash_pairs(spark, near_dup_docs):
    pairs = dedup.minhash_lsh_pairs(
        near_dup_docs, "text", "doc_id", n_hashes=32, bands=8, shingle_n=5,
        min_est_jaccard=0.5,
    )
    comp = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(pairs).collect()
    }
    # docs 0,1,2,3 are one near-dup cluster; 4 and 5 have no pairs at all
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0}


def test_salted_join_matches_plain_join(spark):
    from terra_bonobo_nodes_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(k, i) for i in range(50) for k in ("hot", f"k{i % 5}")], ["key", "v"]
    )
    right = spark.createDataFrame(
        [("hot", 100), ("k0", 200), ("k3", 300)], ["key", "w"]
    )
    plain = left.join(right, "key").groupBy("key").count()
    salted = salted_join(left, right, "key", salt_buckets=8).groupBy("key").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_connected_components_converges_at_iteration_bound(spark):
    """max_iterations counts propagation ROUNDS; the confirming
    signature pass must not eat a round (ADVICE r02: max_iterations=1
    on a trivially-converged single edge used to raise)."""
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    comp = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(pairs, max_iterations=1).collect()
    }
    assert comp == {1: 1, 2: 1}


# --- real pure-Python codecs (BMP / PPM / WAV) -------------------------------


def _checker_rgb(w: int, h: int) -> bytes:
    """Deterministic non-symmetric RGB test pattern."""
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    px = np.stack(
        [(x * 7 + y) % 256, (y * 11) % 256, (x ^ y) % 256], axis=-1
    ).astype(np.uint8)
    return px.tobytes()


@pytest.mark.parametrize("w,h", [(5, 3), (8, 8), (13, 7)])
def test_bmp_roundtrip_exact(w, h):
    from terra_bonobo_nodes_spark.llm import codecs

    rgb = _checker_rgb(w, h)
    # widths 5 and 13 force non-zero row padding (stride % 4 != 0)
    dw, dh, back = codecs.decode_bmp(codecs.encode_bmp(w, h, rgb))
    assert (dw, dh, back) == (w, h, rgb)


def test_bmp_top_down_and_32bpp():
    import struct

    import numpy as np

    from terra_bonobo_nodes_spark.llm import codecs

    w, h = 4, 2
    rgb = _checker_rgb(w, h)
    # hand-build a top-down (negative height) 32-bpp BMP: BGRA rows
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    bgra = np.concatenate(
        [px[:, :, [2, 1, 0]], np.full((h, w, 1), 255, np.uint8)], axis=-1
    )
    body = bgra.tobytes()  # stride w*4 is already 4-aligned
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, -h, 1, 32, 0, len(body), 0, 0, 0, 0
    )
    dw, dh, back = codecs.decode_bmp(header + body)
    assert (dw, dh, back) == (w, h, rgb)


def test_ppm_roundtrip_and_comments():
    from terra_bonobo_nodes_spark.llm import codecs

    rgb = _checker_rgb(6, 4)
    assert codecs.decode_ppm(codecs.encode_ppm(6, 4, rgb)) == (6, 4, rgb)
    commented = b"P6 # fancy\n# another comment\n 6\n4\t255\n" + rgb
    assert codecs.decode_ppm(commented) == (6, 4, rgb)


def test_resize_nearest_identity_and_downscale():
    import numpy as np

    from terra_bonobo_nodes_spark.llm import codecs

    rgb = _checker_rgb(8, 8)
    assert codecs.resize_nearest(8, 8, rgb, 8, 8) == rgb
    small = codecs.resize_nearest(8, 8, rgb, 2, 2)
    px = np.frombuffer(rgb, np.uint8).reshape(8, 8, 3)
    # pixel-center convention: dst (0,0) samples src (2,2), dst (1,1) -> (6,6)
    want = px[[2, 6]][:, [2, 6]]
    assert small == want.tobytes()


def test_image_decoder_dispatch_and_unknown_magic():
    from terra_bonobo_nodes_spark.llm import codecs

    rgb = _checker_rgb(3, 3)
    assert codecs.image_decoder(codecs.encode_bmp(3, 3, rgb))[2] == rgb
    assert codecs.image_decoder(codecs.encode_ppm(3, 3, rgb))[2] == rgb
    assert codecs.image_decoder(codecs.encode_png(3, 3, rgb))[2] == rgb
    # PNG/JPEG now decode for real (TestPngCodec/TestJpegCodec): a
    # recognized-magic payload with garbage contents is a PARSE error,
    # not an unimplemented format — only unknown magics raise that
    with pytest.raises(ValueError):
        codecs.image_decoder(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(NotImplementedError):
        codecs.image_decoder(b"GIF89a....")


def test_decode_image_real_bmp_through_spark(spark):
    """End-to-end: real BMP payloads through the default (non-injected)
    decoder, including the nearest-neighbor resize to the target shape."""
    from terra_bonobo_nodes_spark.llm import codecs

    payloads = [
        (1, codecs.encode_bmp(16, 9, _checker_rgb(16, 9))),
        (2, codecs.encode_ppm(7, 5, _checker_rgb(7, 5))),
    ]
    assets = spark.createDataFrame(payloads, ["asset_id", "payload"])
    rows = {
        r.asset_id: r
        for r in multimodal.decode_image(assets, target=(4, 4)).collect()
    }
    assert (rows[1].width, rows[1].height) == (16, 9)
    assert (rows[2].width, rows[2].height) == (7, 5)
    for aid, payload in payloads:
        w, h, rgb = codecs.image_decoder(bytes(payload))
        assert bytes(rows[aid].raw) == codecs.resize_nearest(w, h, rgb, 4, 4)
        assert len(bytes(rows[aid].raw)) == 4 * 4 * 3


def test_decode_audio_wav_through_spark(spark):
    import numpy as np

    from terra_bonobo_nodes_spark.llm import codecs

    rate = 8000
    t = np.arange(rate)  # 1 second
    mono = np.sin(2 * np.pi * 440 * t / rate).reshape(-1, 1) * 0.5
    stereo = np.concatenate([mono, -mono], axis=1)[: rate // 2]  # 0.5 s
    assets = spark.createDataFrame(
        [(1, codecs.encode_wav(rate, mono)), (2, codecs.encode_wav(rate, stereo))],
        ["asset_id", "payload"],
    )
    rows = {r.asset_id: r for r in multimodal.decode_audio(assets).collect()}
    assert (rows[1].sample_rate, rows[1].n_channels, rows[1].n_frames) == (
        rate, 1, rate,
    )
    assert (rows[2].sample_rate, rows[2].n_channels, rows[2].n_frames) == (
        rate, 2, rate // 2,
    )
    assert rows[1].duration_ms == 1000 and rows[2].duration_ms == 500
    # RMS of a 0.5-amplitude sine is 0.5/sqrt(2)
    assert abs(rows[1].rms - 0.5 / np.sqrt(2)) < 1e-3
    assert abs(rows[2].rms - 0.5 / np.sqrt(2)) < 1e-3


def test_wav_roundtrip_8_and_32_bit():
    import io
    import struct
    import wave

    import numpy as np

    from terra_bonobo_nodes_spark.llm import codecs

    samples = (np.arange(64) % 16 / 16.0 - 0.5).reshape(-1, 1)
    for width, dtype, scale, offset in [
        (1, np.uint8, 128.0, 128.0),
        (4, "<i4", 2147483648.0, 0.0),
    ]:
        ints = (samples[:, 0] * scale + offset)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wv:
            wv.setnchannels(1)
            wv.setsampwidth(width)
            wv.setframerate(1000)
            wv.writeframes(ints.astype(dtype).tobytes())
        rate, nch, n, arr = codecs.decode_wav(buf.getvalue())
        assert (rate, nch, n) == (1000, 1, 64)
        assert np.allclose(arr[:, 0], samples[:, 0], atol=1.0 / scale)


def test_repetition_ratios_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),           # 1 distinct word, 1 distinct bigram
            (2, "all words here are unique"),     # no repeats
            (3, "a b a b a"),                     # words: 2/5 distinct; bigrams: 2/4 distinct
            (4, "word"),                          # single token: no bigrams
            (5, ""),                              # empty
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r for r in text.repetition_ratios(docs, "text").collect()
    }
    assert rows[1].rep_word_dup_ratio == pytest.approx(3 / 4)
    assert rows[1].rep_bigram_dup_ratio == pytest.approx(2 / 3)
    assert rows[2].rep_word_dup_ratio == 0.0
    assert rows[2].rep_bigram_dup_ratio == 0.0
    assert rows[3].rep_word_dup_ratio == pytest.approx(3 / 5)
    assert rows[3].rep_bigram_dup_ratio == pytest.approx(2 / 4)
    assert rows[4].rep_word_dup_ratio == 0.0
    assert rows[4].rep_bigram_dup_ratio == 0.0
    assert rows[5].rep_word_dup_ratio == 0.0
    assert rows[5].rep_bigram_dup_ratio == 0.0


# --- winnowing fingerprints (Schleimer et al. 2003) -------------------------


def _py_winnow(s: str, k: int = 8, window: int = 4) -> set[int]:
    """Reference winnowing: normalize, base-31 k-gram hashes, window
    minima — mirrors text.winnow_fingerprints exactly."""
    import re

    norm = re.sub(r" +", " ", re.sub(r"[^a-z0-9]+", " ", s.lower())).strip()
    if not norm:
        return set()
    m = max(len(norm) - k + 1, 1)
    grams = []
    for i in range(m):
        h = 0
        for j in range(k):
            c = norm[i + j] if i + j < len(norm) else ""
            h = h * text.WINNOW_BASE + (ord(c) if c else 0)
        grams.append(h)
    nw = max(len(grams) - window + 1, 1)
    return {min(grams[w : w + window]) for w in range(nw)}


def test_winnow_fingerprints_match_python_reference(spark, near_dup_docs):
    got = {
        r.doc_id: sorted(r.fps)
        for r in text.winnow_fingerprints(near_dup_docs, "text", "fps").collect()
    }
    for r in near_dup_docs.collect():
        assert got[r.doc_id] == sorted(_py_winnow(r.text)), f"doc {r.doc_id}"


def test_winnow_shared_substring_guarantee(spark):
    # Winnowing guarantees: a shared substring of length >= k + window - 1
    # (= 11 chars here) yields at least one shared fingerprint.
    shared = "unmistakable shared passage of text"
    rows = [
        (0, "left context before " + shared),
        (1, shared + " and entirely different right side"),
        (2, "nothing in common with the others at all zzz"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {
        r.doc_id: set(r.fps)
        for r in text.winnow_fingerprints(df, "text", "fps").collect()
    }
    assert fps[0] & fps[1], "shared substring must share a fingerprint"
    assert not (fps[0] & fps[2]) or len(fps[0] & fps[2]) < len(fps[0] & fps[1])


def test_winnow_empty_and_short_text(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, "..!!.."), (2, "ab"), (3, "ab")], ["doc_id", "text"]
    )
    got = {
        r.doc_id: list(r.fps)
        for r in text.winnow_fingerprints(df, "text", "fps").collect()
    }
    assert got[0] == [] and got[1] == []  # normalize to empty -> no fps
    assert got[2] == got[3] and len(got[2]) == 1  # short text: one padded gram


def test_winnow_pairs_near_dups(spark, near_dup_docs):
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in text.winnow_pairs(
            near_dup_docs, "doc_id", "text", min_shared=2, max_fp_df=None
        ).collect()
    }
    # 0, 1, 3 normalize identically -> all share every fingerprint
    assert (0, 1) in pairs and (0, 3) in pairs and (1, 3) in pairs
    assert pairs[(0, 1)] == pairs[(0, 3)] == pairs[(1, 3)]
    assert (0, 2) in pairs  # near dup: long shared prefix
    assert (4, 5) not in pairs  # unrelated


def test_winnow_pairs_max_fp_df_drops_hot_prints(spark):
    # 5 docs all sharing one boilerplate sentence: with the cap at 4 the
    # boilerplate fingerprints are dropped and no pair survives.
    boiler = "standard legal disclaimer footer text common to every page"
    rows = [(i, boiler + f" unique tail {i} " + "x" * i) for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    dense = text.winnow_pairs(df, "doc_id", "text", min_shared=2, max_fp_df=None)
    capped = text.winnow_pairs(df, "doc_id", "text", min_shared=2, max_fp_df=4)
    assert dense.count() == 10  # all C(5,2) pairs share the boilerplate
    assert capped.count() == 0


def _self_join_pairs(inv, min_shared, max_fp_df):
    """The reference pair count over an inverted index (doc, fp): drop
    fingerprints of more than ``max_fp_df`` rows, self-join on fp with
    ``a.doc < b.doc``, keep pairs sharing ``min_shared`` prints."""
    if max_fp_df is not None:
        hot = (
            inv.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("fp_df"))
            .where(F.col("fp_df") > F.lit(max_fp_df))
            .select("fp")
        )
        inv = inv.join(F.broadcast(hot), "fp", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= F.lit(min_shared))
    )


@st.composite
def _postings(draw):
    """(id type, (doc, fp) rows): ids repeat and may be NULL, fps
    collide often, so lists hold duplicates, NULLs and ties. Up to four
    independent indexes share one frame, each with its own fp range and
    id tag, so one Spark job checks them all."""
    kind = draw(st.sampled_from(["bigint", "string"]))
    ids = st.integers(-2, 5) if kind == "bigint" else st.sampled_from(["a", "b", "B", "ab", "", "é"])
    one = st.lists(st.tuples(st.one_of(st.none(), ids), st.integers(0, 3)), max_size=16)
    rows = []
    for j, index in enumerate(draw(st.lists(one, min_size=1, max_size=4))):
        tag = (lambda d: d + 100 * j) if kind == "bigint" else (lambda d: f"{j}{d}")
        rows += [(None if d is None else tag(d), fp + 10 * j) for d, fp in index]
    return kind, rows


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    _postings(),
    st.sampled_from([None, 1, 2, 3]),
    st.integers(1, 3),
)
@example(("bigint", [(1, 0), (1, 0), (2, 0), (None, 0), (3, 1), (3, 1)]), None, 1)
@example(("string", [("b", 0), ("a", 0), ("a", 0), (None, 1), ("b", 1)]), 2, 1)
# unsorted lists, one exactly at the cap
@example(("bigint", [(3, 0), (1, 0), (2, 0), (1, 0), (None, 0), (2, 1), (1, 1)]), 5, 1)
@example(("string", [("b", 0), ("a", 0), ("", 0), ("B", 1), ("b", 1), ("a", 1)]), 3, 2)
def test_posting_pairs_match_the_self_join(spark, postings, max_fp_df, min_shared):
    kind, rows = postings
    inv = spark.createDataFrame(rows, f"doc {kind}, fp bigint")
    got = text._posting_pairs(inv, min_shared, max_fp_df)
    want = _self_join_pairs(inv, min_shared, max_fp_df)
    assert got.dtypes == want.dtypes
    # both sides in one job
    both = got.selectExpr("true AS new", "*").unionAll(want.selectExpr("false AS new", "*"))
    out = both.collect()
    assert sorted(r[1:] for r in out if r[0]) == sorted(r[1:] for r in out if not r[0])


# --- TF-IDF + hash split ----------------------------------------------------


def test_tfidf_log_matches_python_reference(spark):
    import math
    from collections import Counter

    rows = [
        (0, "spark spark shuffle partition spark"),
        (1, "shuffle partition join join join"),
        (2, "completely different words entirely"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_id, r.term): (r.score, r.rank)
        for r in text.tfidf_topk_terms(df, k=3, idf="log").collect()
    }
    n = len(rows)
    dfc = Counter()
    for _, t in rows:
        dfc.update(set(t.split()))
    for doc_id, t in rows:
        tf = Counter(t.split())
        scores = {
            w: c * (math.log((n + 1) / (dfc[w] + 1)) + 1) for w, c in tf.items()
        }
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        for rank, (w, s) in enumerate(top, 1):
            assert (doc_id, w) in got, (doc_id, w)
            gs, gr = got[(doc_id, w)]
            assert gr == rank and abs(gs - s) < 1e-9


def test_tfidf_max_vocab_df_drops_ubiquitous_terms(spark):
    rows = [(i, f"common filler unique{i}") for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.tfidf_topk_terms(df, k=10, max_vocab_df=3)
    terms = {r.term for r in out.collect()}
    assert "common" not in terms and "filler" not in terms
    assert {f"unique{i}" for i in range(4)} <= terms


def test_hash_split_deterministic_and_proportional(spark):
    df = spark.range(20000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in text.hash_split(df, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in text.hash_split(df.repartition(13), "doc_id").collect()
    }
    assert a == b  # stable under repartitioning
    from collections import Counter

    frac = Counter(a.values())
    assert abs(frac["train"] / 20000 - 0.9) < 0.01
    assert abs(frac["val"] / 20000 - 0.05) < 0.005
    assert abs(frac["test"] / 20000 - 0.05) < 0.005
    # different seed -> different assignment (not a constant function)
    c = {r.doc_id: r.split for r in text.hash_split(df, "doc_id", seed="other").collect()}
    assert a != c


# --- corpus assembly --------------------------------------------------------


def test_chunk_assignments_stream_invariants(spark):
    from terra_bonobo_nodes_spark.llm import corpus

    rows = [(i, 10 + (i * 7) % 50) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = corpus.chunk_assignments(df, budget=64, n_shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(out) == 200 and len(by_shard) == 4
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r.doc_id)
        expect = 0
        for r in docs:
            # offsets are the exclusive running sum: stream is gapless
            assert r.start_offset == expect
            expect += r.n_tokens
            assert r.first_chunk == r.start_offset // 64
            assert r.last_chunk == (r.start_offset + r.n_tokens - 1) // 64
            assert r.first_chunk <= r.last_chunk


def test_chunk_assignments_explicit_shard_column(spark):
    from terra_bonobo_nodes_spark.llm import corpus

    df = spark.createDataFrame(
        [(1, 5, 0), (2, 5, 0), (3, 5, 1)], ["doc_id", "n_tokens", "grp"]
    )
    got = {
        r.doc_id: (r.shard, r.start_offset)
        for r in corpus.chunk_assignments(
            df, budget=8, shard_col="grp"
        ).collect()
    }
    assert got == {1: (0, 0), 2: (0, 5), 3: (1, 0)}


def test_stratified_sample_rates_and_determinism(spark):
    from terra_bonobo_nodes_spark.llm import corpus

    df = (
        spark.range(10000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "src",
            F.when(F.col("doc_id") % 2 == 0, "crawl").otherwise("curated"),
        )
    )
    rates = {"crawl": 0.1, "curated": 0.9}
    kept = corpus.stratified_sample(df, "src", rates).collect()
    again = {r.doc_id for r in corpus.stratified_sample(df, "src", rates).collect()}
    assert {r.doc_id for r in kept} == again  # deterministic
    from collections import Counter

    n = Counter(r.src for r in kept)
    assert abs(n["crawl"] / 5000 - 0.1) < 0.02
    assert abs(n["curated"] / 5000 - 0.9) < 0.02
    # unknown stratum -> default_rate 0.0 -> dropped entirely
    df2 = df.withColumn("src", F.lit("other"))
    assert corpus.stratified_sample(df2, "src", rates).count() == 0


def test_winnow_arrow_impl_equals_expr_impl(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(100)
    arrow = {
        r.doc_id: list(r.fps)
        for r in text.winnow_fingerprints(docs, "text", "fps", impl="arrow").collect()
    }
    expr = {
        r.doc_id: list(r.fps)
        for r in text.winnow_fingerprints(docs, "text", "fps", impl="expr").collect()
    }
    assert arrow == expr and len(arrow) == 100


def test_quantize_embeddings_error_bound(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).limit(100)
    q = similarity.quantize_embeddings(emb, "embedding", "q", "scale")
    rows = q.collect()
    assert rows
    for r in rows:
        if r.scale == 0.0:
            assert all(v == 0 for v in r.q)
            continue
        assert all(-127 <= v <= 127 for v in r.q), r.vec_id
        for x, qi in zip(r.embedding, r.q):
            err = abs(float(x) - qi / r.scale)
            assert err <= 0.5 / r.scale + 1e-12, (r.vec_id, x, qi)


# --- corpus hygiene (llm/scrub.py) ------------------------------------------


def test_pii_redact_each_class(spark):
    from terra_bonobo_nodes_spark.llm import scrub

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.io now"),
            (2, "server at 192.168.0.1 up"),
            (3, "call +33 (0)6 01-02-03-04 today"),
            (4, "acct 123456789012 closed"),
            (5, "clean text only"),
        ],
        "id long, text string",
    )
    out = {r.id: r for r in scrub.pii_redact(scrub.pii_counts(df)).collect()}
    assert out[1].redacted == "mail <EMAIL> now" and out[1].n_email == 1
    assert out[2].redacted == "server at <IPV4> up" and out[2].n_ipv4 == 1
    assert out[3].redacted == "call <PHONE> today" and out[3].n_phone == 1
    assert out[4].redacted == "acct <DIGIT_ID> closed" and out[4].n_digit_id == 1
    assert out[5].redacted == "clean text only"
    assert sum(out[5][f"n_{k}"] for k in scrub.PII_PATTERNS) == 0


def test_pii_redact_order_ip_before_phone(spark):
    from terra_bonobo_nodes_spark.llm import scrub

    # the IP would also be swallowed by a leading-+-less phone pattern;
    # the dict order guarantees it becomes <IPV4>, not part of <PHONE>
    df = spark.createDataFrame([(1, "+1 555-0100 via 10.0.0.1")], "id long, text string")
    r = scrub.pii_redact(df).collect()[0]
    assert r.redacted == "<PHONE> via <IPV4>"


def test_remove_boilerplate_drops_hot_and_reassembles(spark):
    from terra_bonobo_nodes_spark.llm import scrub

    boiler = "one two three four"
    rows = [(i, f"{boiler} body{i} alpha beta gamma") for i in range(6)]
    rows.append((99, boiler))  # all-boilerplate doc survives as ''
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in scrub.remove_boilerplate(
            df, "doc_id", "text", para_tokens=4, max_df=5, out_col="clean"
        ).collect()
    }
    assert len(out) == 7
    for i in range(6):
        assert out[i].clean == f"body{i} alpha beta gamma", out[i]
        assert out[i].n_para == 2 and out[i].n_kept == 1
    assert out[99].clean == "" and out[99].n_kept == 0


def test_remove_boilerplate_keeps_below_df_threshold(spark):
    from terra_bonobo_nodes_spark.llm import scrub

    df = spark.createDataFrame(
        [(i, "shared phrase here now plus tail " + "x" * (i + 1)) for i in range(3)],
        "doc_id long, text string",
    )
    out = scrub.remove_boilerplate(
        df, "doc_id", "text", para_tokens=6, max_df=5, out_col="clean"
    ).collect()
    # df=3 <= max_df=5: nothing removed, order preserved
    for r in out:
        assert r.n_para == r.n_kept
        assert r.clean.startswith("shared phrase here now plus tail")


def test_remove_boilerplate_ordering_many_paragraphs(spark):
    from terra_bonobo_nodes_spark.llm import scrub

    words = " ".join(f"w{i:03d}" for i in range(40))  # 40 unique tokens
    df = spark.createDataFrame([(7, words)], "doc_id long, text string")
    r = scrub.remove_boilerplate(
        df, "doc_id", "text", para_tokens=3, max_df=5, out_col="clean"
    ).collect()[0]
    assert r.clean == words  # 14 paragraphs reassembled in index order
    assert r.n_para == 14 and r.n_kept == 14


def test_quantized_rerank_equals_brute_force_when_coarse_covers_all(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    q = emb.where("vec_id < 3")
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in similarity.brute_force_topk(emb, q, k=4).collect()
    }
    rr = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in similarity.quantized_rerank_topk(emb, q, k=4, coarse_k=n).collect()
    }
    assert rr == exact  # full coarse pass -> re-rank IS brute force


def test_quantized_rerank_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.where("vec_id < 5")
    exact = similarity.brute_force_topk(emb, q, k=5).collect()
    approx = similarity.quantized_rerank_topk(emb, q, k=5, coarse_k=40).collect()
    want = {(r.query_id, r.neighbor_id) for r in exact}
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(want & got) / len(want)
    assert recall >= 0.9, f"int8 coarse cut lost too much: recall={recall}"


def test_quantized_rerank_query_cap(spark, sf_dir):
    import pytest as _pytest

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    with _pytest.raises(ValueError, match="max_query_rows"):
        similarity.quantized_rerank_topk(emb, emb, max_query_rows=10)


def test_char_lm_entropy_closed_form_and_ordering(spark):
    import math

    # single doc 'aaaa': bigram 'aa' x3; P = (3+1)/(3+37) = 0.1
    one = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
    r = text.char_lm_entropy(one).collect()[0]
    assert r.n_bigrams == 3
    assert abs(r.lm_entropy - (-math.log(0.1))) < 1e-5

    # repetitive text scores lower entropy than alphabet soup under the
    # corpus model; empty/1-char docs get (0, 0.0)
    docs = spark.createDataFrame(
        [
            (1, "ababababababababab"),
            (2, "the quick brown fox jumps over zx0 9q7"),
            (3, "a"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.char_lm_entropy(docs).collect()}
    assert out[1].lm_entropy < out[2].lm_entropy
    assert out[3].n_bigrams == 0 and out[3].lm_entropy == 0.0


def test_remove_boilerplate_retains_empty_documents(spark):
    from terra_bonobo_nodes_spark.llm import scrub

    df = spark.createDataFrame(
        [(1, "real content words here"), (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in scrub.remove_boilerplate(
            df, "doc_id", "text", para_tokens=4, max_df=5, out_col="clean"
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1].clean == "real content words here" and out[1].n_para == 1
    for d in (2, 3):
        assert out[d].clean == "" and out[d].n_para == 0 and out[d].n_kept == 0


def test_pii_counts_null_text_is_zero(spark):
    from terra_bonobo_nodes_spark.llm import scrub

    df = spark.createDataFrame([(1, None)], "id long, text string")
    r = scrub.pii_counts(df).collect()[0]
    assert all(r[f"n_{k}"] == 0 for k in scrub.PII_PATTERNS)
    rr = scrub.pii_redact(df).collect()[0]
    assert rr.redacted is None  # redaction passes NULL through


def test_minhash_lsh_match_presig_equals_recompute(spark, near_dup_docs):
    """The persisted-signature fast path (the actual 100 TB ingestion
    contract: corpus hashed once, ever) must produce pair-for-pair the
    same matches as re-hashing raw text — for either side, and for
    both at once."""
    new = near_dup_docs.where(F.col("doc_id") % 2 == 0)
    corpus = near_dup_docs.where(F.col("doc_id") % 2 != 0)
    kw = dict(n_hashes=8, bands=4, shingle_n=5)

    def run(n, c):
        out = dedup.minhash_lsh_match(n, c, "text", "doc_id", **kw)
        return sorted(
            (r.new_id, r.corpus_id, round(r.est_jaccard, 6)) for r in out.collect()
        )

    new_sig = dedup.minhash_signatures(new, "text", "doc_id", 8, 5)
    cor_sig = dedup.minhash_signatures(corpus, "text", "doc_id", 8, 5)
    base = run(new, corpus)
    assert base  # the fixture contains cross-side near-dups
    assert run(new, cor_sig) == base      # corpus presig (production shape)
    assert run(new_sig, corpus) == base   # new-side presig
    assert run(new_sig, cor_sig) == base  # both presig


def test_decontaminate_substring_guarantee(spark):
    """Winnowing guarantee carried to decontamination: a candidate that
    embeds a verbatim >= k+window-1 char benchmark substring inside
    fully rewritten surroundings MUST flag; an unrelated doc must not."""
    from terra_bonobo_nodes_spark.llm.corpus import decontaminate_substring

    secret = "the canonical benchmark answer string"  # 38 chars >> k+w-1=11
    bench = spark.createDataFrame(
        [(100, f"question preamble {secret} trailing rubric")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [
            (1, f"totally paraphrased framing yet {secret} smuggled verbatim"),
            (2, "an honestly clean document about spark shuffle partitioning"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in decontaminate_substring(
            cand, bench, "text", "doc_id", k=8, window=4
        ).collect()
    }
    assert out[1].contaminated and out[1].n_shared_fp >= 1
    assert not out[2].contaminated and out[2].n_shared_fp == 0


class TestPngCodec:
    """PNG decode with stdlib zlib + hand-rolled unfiltering — closes
    the round-5 'PNG is environment-blocked' item (only JPEG truly
    needs an external codec)."""

    @staticmethod
    def _pixels(w, h):
        import numpy as _np

        rng = _np.random.RandomState(7)
        return rng.randint(0, 256, size=(h, w, 3), dtype=_np.uint8).tobytes()

    def test_roundtrip_every_filter_type(self):
        from terra_bonobo_nodes_spark.llm.codecs import decode_png, encode_png

        rgb = self._pixels(13, 7)  # odd sizes catch stride bugs
        for ftype in range(5):
            png = encode_png(13, 7, rgb, filter_type=ftype)
            assert decode_png(png) == (13, 7, rgb), f"filter {ftype}"

    def test_png_agrees_with_bmp_for_same_pixels(self):
        from terra_bonobo_nodes_spark.llm.codecs import (
            decode_bmp,
            decode_png,
            encode_bmp,
            encode_png,
        )

        rgb = self._pixels(8, 5)
        assert decode_png(encode_png(8, 5, rgb, 4)) == decode_bmp(encode_bmp(8, 5, rgb))

    def test_gray_rgba_palette_color_types(self):
        import struct as _struct
        import zlib as _zlib

        from terra_bonobo_nodes_spark.llm.codecs import _PNG_SIG, _png_chunk, decode_png

        def build(color, channels, pixel_rows, plte=b""):
            h = len(pixel_rows)
            w = len(pixel_rows[0]) // channels
            ihdr = _struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
            raw = b"".join(b"\x00" + bytes(r) for r in pixel_rows)
            chunks = _png_chunk(b"IHDR", ihdr)
            if plte:
                chunks += _png_chunk(b"PLTE", plte)
            chunks += _png_chunk(b"IDAT", _zlib.compress(raw))
            return _PNG_SIG + chunks + _png_chunk(b"IEND", b"")

        # gray 2x1: values expand to R=G=B
        w, h, rgb = decode_png(build(0, 1, [[10, 200]]))
        assert (w, h) == (2, 1) and rgb == bytes([10, 10, 10, 200, 200, 200])
        # gray+alpha: alpha dropped
        w, h, rgb = decode_png(build(4, 2, [[10, 255, 200, 0]]))
        assert rgb == bytes([10, 10, 10, 200, 200, 200])
        # RGBA: alpha dropped
        w, h, rgb = decode_png(build(6, 4, [[1, 2, 3, 9, 4, 5, 6, 9]]))
        assert rgb == bytes([1, 2, 3, 4, 5, 6])
        # palette: PLTE lookup
        pal = bytes([255, 0, 0, 0, 255, 0])
        w, h, rgb = decode_png(build(3, 1, [[1, 0]], plte=pal))
        assert rgb == bytes([0, 255, 0, 255, 0, 0])

    def test_unsupported_variants_still_raise(self):
        import struct as _struct
        import zlib as _zlib

        import pytest as _pytest

        from terra_bonobo_nodes_spark.llm.codecs import (
            _PNG_SIG,
            _png_chunk,
            decode_png,
            image_decoder,
        )

        def ihdr_only(depth, color, interlace):
            ihdr = _struct.pack(">IIBBBBB", 1, 1, depth, color, 0, 0, interlace)
            return (
                _PNG_SIG
                + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", _zlib.compress(b"\x00\x00"))
                + _png_chunk(b"IEND", b"")
            )

        # sub-byte depths now decode (round 7); depth 3 never existed
        with _pytest.raises(ValueError, match="bit depth"):
            decode_png(ihdr_only(3, 0, 0))
        # 1x1 4-bit gray: one padded byte per row, sample 0 -> black
        assert decode_png(ihdr_only(4, 0, 0)) == (1, 1, b"\x00\x00\x00")
        # 16-bit is now SUPPORTED; this malformed 16-bit body (1 byte
        # where a 2-byte sample is required) is a size-mismatch error
        with _pytest.raises(ValueError, match="size mismatch"):
            decode_png(ihdr_only(16, 0, 0))
        # Adam7 (interlace=1) now decodes for real; only an invalid
        # interlace METHOD raises
        assert decode_png(ihdr_only(8, 0, 1)) == (1, 1, b"\x00\x00\x00")
        with _pytest.raises(ValueError, match="interlace"):
            decode_png(ihdr_only(8, 0, 2))
        with _pytest.raises(NotImplementedError):
            image_decoder(b"GIF89a-fake")

    def test_image_decoder_dispatches_png(self):
        from terra_bonobo_nodes_spark.llm.codecs import encode_png, image_decoder

        rgb = self._pixels(4, 4)
        assert image_decoder(encode_png(4, 4, rgb, 2)) == (4, 4, rgb)


class TestJpegCodec:
    """Baseline JPEG encode/decode (llm/jpeg.py): pure numpy Huffman +
    DCT. JPEG is lossy, so assertions are tolerance bands — exact-ish
    for uniform blocks, small max error for smooth content."""

    @staticmethod
    def _gradient(w, h):
        import numpy as _np

        yy, xx = _np.mgrid[0:h, 0:w]
        return _np.stack(
            [(yy * 5) % 256, (xx * 3) % 256, ((xx + yy) * 2) % 256], axis=-1
        ).astype(_np.uint8)

    def test_uniform_color_near_exact(self):
        import numpy as _np

        from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

        rgb = _np.full((16, 24, 3), [120, 60, 200], dtype=_np.uint8)
        w, h, out = decode_jpeg(encode_jpeg(24, 16, rgb.tobytes()))
        o = _np.frombuffer(out, dtype=_np.uint8).reshape(16, 24, 3)
        assert (w, h) == (24, 16)
        assert int(_np.abs(o.astype(int) - rgb.astype(int)).max()) <= 2

    def test_gradient_roundtrip_all_subsamplings(self):
        import numpy as _np

        from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

        grad = self._gradient(37, 23)  # odd dims exercise padding
        for sub, tol in (("444", 8), ("422", 16), ("420", 16)):
            w, h, out = decode_jpeg(
                encode_jpeg(37, 23, grad.tobytes(), subsampling=sub)
            )
            o = _np.frombuffer(out, dtype=_np.uint8).reshape(23, 37, 3)
            err = _np.abs(o.astype(int) - grad.astype(int))
            assert (w, h) == (37, 23)
            assert int(err.max()) <= tol, f"{sub}: max err {err.max()}"

    def test_grayscale_single_component(self):
        import numpy as _np

        from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

        g = self._gradient(16, 16)
        gray = _np.repeat(
            (0.299 * g[..., 0] + 0.587 * g[..., 1] + 0.114 * g[..., 2])[..., None],
            3, axis=2,
        ).astype(_np.uint8)
        w, h, out = decode_jpeg(
            encode_jpeg(16, 16, gray.tobytes(), subsampling="gray")
        )
        o = _np.frombuffer(out, dtype=_np.uint8).reshape(16, 16, 3)
        assert int(_np.abs(o.astype(int) - gray.astype(int)).max()) <= 8
        # gray output: channels identical
        assert (o[..., 0] == o[..., 1]).all() and (o[..., 1] == o[..., 2]).all()

    def test_unsupported_variants_raise(self):
        import struct as _struct

        from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

        base = encode_jpeg(8, 8, self._gradient(8, 8).tobytes())
        # a baseline file RELABELED as progressive (FFC0 -> FFC2) is
        # malformed: its single scan says Ss=0,Se=63, which a real
        # progressive DC scan forbids — reject, don't misdecode
        mislabeled = base.replace(b"\xff\xc0", b"\xff\xc2", 1)
        with pytest.raises(ValueError, match="Se=0"):
            decode_jpeg(mislabeled)
        # arithmetic-coded (SOF9) and lossless (SOF3) still refuse
        for sof in (b"\xff\xc9", b"\xff\xc3"):
            with pytest.raises(NotImplementedError, match="SOF"):
                decode_jpeg(base.replace(b"\xff\xc0", sof, 1))
        # 4-component (Adobe CMYK-style) SOF0 must refuse, not misread
        with pytest.raises(NotImplementedError, match="components"):
            # splice a 4-component SOF0 built from scratch
            from terra_bonobo_nodes_spark.llm.jpeg import _dqt_segment, _Q_LUMA
            sof = _struct.pack(">BHHB", 8, 8, 8, 4) + bytes(
                [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0]
            )
            fake = (
                b"\xff\xd8" + _dqt_segment(0, _Q_LUMA)
                + b"\xff\xc0" + _struct.pack(">H", len(sof) + 2) + sof
                + base[base.index(b"\xff\xc4"):]
            )
            decode_jpeg(fake)

    def test_image_decoder_dispatches_jpeg(self):
        import numpy as _np

        from terra_bonobo_nodes_spark.llm.codecs import image_decoder
        from terra_bonobo_nodes_spark.llm.jpeg import encode_jpeg

        grad = self._gradient(12, 9)
        w, h, out = image_decoder(encode_jpeg(12, 9, grad.tobytes()))
        o = _np.frombuffer(out, dtype=_np.uint8).reshape(9, 12, 3)
        assert (w, h) == (12, 9)
        assert int(_np.abs(o.astype(int) - grad.astype(int)).max()) <= 8


def test_decode_image_all_four_formats_through_spark(spark):
    """End-to-end mapInPandas decode over a binary column MIXING all
    four real formats (BMP, PPM, PNG, JPEG) through the default
    dispatching decoder — one Arrow pipeline, heterogeneous payloads,
    exactly the mixed-crawl shape a multimodal ingest sees."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm import codecs
    from terra_bonobo_nodes_spark.llm.jpeg import encode_jpeg

    rgb = _checker_rgb(16, 9)
    payloads = [
        (1, codecs.encode_bmp(16, 9, rgb)),
        (2, codecs.encode_ppm(16, 9, rgb)),
        (3, codecs.encode_png(16, 9, rgb, filter_type=4)),
        (4, encode_jpeg(16, 9, rgb)),
        (5, encode_jpeg(16, 9, rgb, progressive=True)),
    ]
    assets = spark.createDataFrame(payloads, ["asset_id", "payload"])
    rows = {
        r.asset_id: r
        for r in multimodal.decode_image(assets, target=(8, 8)).collect()
    }
    want = np.frombuffer(
        codecs.resize_nearest(16, 9, rgb, 8, 8), dtype=np.uint8
    ).astype(int)
    for aid in (1, 2, 3, 4, 5):
        assert (rows[aid].width, rows[aid].height) == (16, 9)
        got = np.frombuffer(bytes(rows[aid].raw), dtype=np.uint8).astype(int)
        tol = 0 if aid < 4 else 40  # JPEG: lossy on a checkerboard
        assert np.abs(got - want).max() <= tol, f"format {aid}"
    # progressive and baseline reconstruct the same quantized
    # coefficients, so their decodes must agree exactly
    assert bytes(rows[5].raw) == bytes(rows[4].raw)


def test_png_adam7_interlaced_decode():
    """Adam7: build an interlaced file by hand (7 passes, filter-0
    rows) from known pixels — decode must reproduce them exactly and
    agree with the sequential encoding of the same image."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    from terra_bonobo_nodes_spark.llm.codecs import (
        _ADAM7,
        _PNG_SIG,
        _png_chunk,
        decode_png,
        encode_png,
    )

    w, h = 11, 6  # non-multiples of 8 exercise partial passes
    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    passes = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            passes.append(0)  # filter None
            passes.extend(row.tobytes())
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)  # interlace=1
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress(bytes(passes)))
        + _png_chunk(b"IEND", b"")
    )
    assert decode_png(payload) == (w, h, img.tobytes())
    assert decode_png(payload) == decode_png(encode_png(w, h, img.tobytes(), 3))


def test_jpeg_restart_intervals_roundtrip():
    """DRI/RSTn (the camera-JPEG layout): markers every N MCUs with
    DC-predictor resets must decode identically to the same image
    without restarts."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(24, 40, 3), dtype=np.uint8)  # 15 MCUs
    plain = decode_jpeg(encode_jpeg(40, 24, img.tobytes()))
    for ri in (1, 2, 4, 7):
        with_rst = encode_jpeg(40, 24, img.tobytes(), restart_interval=ri)
        assert b"\xff\xdd" in with_rst  # DRI present
        assert decode_jpeg(with_rst) == plain, f"restart_interval={ri}"
    # 4:2:0 with restarts exercises the multi-block-MCU predictor reset
    sub = encode_jpeg(40, 24, img.tobytes(), subsampling="420", restart_interval=2)
    plain420 = decode_jpeg(encode_jpeg(40, 24, img.tobytes(), subsampling="420"))
    assert decode_jpeg(sub) == plain420


def test_png_16bit_depth_reduces_to_high_byte():
    """16-bit PNG: filters operate on 2-byte samples (bpp doubles) and
    the decoder keeps each big-endian sample's high byte — the standard
    16-to-8 reduction."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    from terra_bonobo_nodes_spark.llm.codecs import _PNG_SIG, _png_chunk, decode_png

    w, h = 5, 3
    rng = np.random.RandomState(9)
    px16 = rng.randint(0, 65536, size=(h, w, 3), dtype=np.uint16)
    be = px16.astype(">u2").tobytes()
    stride = w * 6
    rows = [be[i * stride : (i + 1) * stride] for i in range(h)]
    raw = bytearray()
    # row 0: filter None; row 1: Sub (bpp = 6 bytes); row 2: Up
    raw += b"\x00" + rows[0]
    sub = bytearray(rows[1])
    for x in range(stride - 1, 5, -1):
        sub[x] = (sub[x] - rows[1][x - 6]) & 0xFF
    raw += b"\x01" + bytes(sub)
    raw += b"\x02" + bytes((a - b) & 0xFF for a, b in zip(rows[2], rows[1]))
    ihdr = _struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    got_w, got_h, rgb = decode_png(payload)
    assert (got_w, got_h) == (w, h)
    assert rgb == (px16 >> 8).astype(np.uint8).tobytes()


def test_progressive_jpeg_decodes_bit_identical_to_baseline():
    """SOF2 spectral selection + successive approximation must
    reconstruct EXACTLY the coefficients baseline codes in one scan —
    randomized over sizes, content, and subsampling (noise maximizes
    ZRL/EOB-run/correction-bit traffic through the refine paths)."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(17)
    for h, w in [(8, 8), (9, 13), (24, 40), (33, 17), (64, 64)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for sub in ("444", "422", "420", "gray"):
            prog = encode_jpeg(w, h, img.tobytes(), subsampling=sub, progressive=True)
            base = encode_jpeg(w, h, img.tobytes(), subsampling=sub)
            assert decode_jpeg(prog) == decode_jpeg(base), (h, w, sub)


def test_progressive_jpeg_is_really_multiscan():
    """The fixture encoder must emit a genuine progressive layout:
    SOF2, no SOF0, and one SOS per scan-script entry (2 DC + 2x3 AC
    first + 3 AC refine for color = 9 scans)."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm.jpeg import encode_jpeg

    img = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    prog = encode_jpeg(16, 16, img.tobytes(), progressive=True)
    assert b"\xff\xc2" in prog and b"\xff\xc0" not in prog
    assert prog.count(b"\xff\xda") >= 9 - 2  # stuffing can't fake SOS: FF DA is never emitted stuffed
    gray = encode_jpeg(16, 16, img.tobytes(), subsampling="gray", progressive=True)
    assert gray.count(b"\xff\xda") >= 4


def test_progressive_jpeg_uniform_image_max_eob_runs():
    """A uniform image makes every AC band empty — the whole scan
    collapses into end-of-band runs (the EOBn > 1 decoder path)."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    flat = np.full((40, 56, 3), 77, dtype=np.uint8)
    w_, h_, rgb = decode_jpeg(encode_jpeg(56, 40, flat.tobytes(), progressive=True))
    a = np.frombuffer(rgb, dtype=np.uint8).astype(int)
    assert (w_, h_) == (56, 40)
    assert np.abs(a - 77).max() <= 2


def test_progressive_rejects_interleaved_ac_and_refinement_size():
    """Malformed progressive streams fail fast: an AC scan claiming
    more than one component is structurally illegal (T.81 B.2.3)."""
    import numpy as np
    import pytest as _pytest

    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    prog = encode_jpeg(8, 8, img.tobytes(), progressive=True)
    # find the first AC SOS (ns=1) and forge ns=3 with Ss=1
    # easier: craft header-level corruption — flip the DC scan's Se byte
    i = prog.index(b"\xff\xda")
    # SOS layout: FF DA len2 ns (cid tabs)*ns Ss Se AhAl — DC scan ns=3
    ss_off = i + 5 + 2 * 3
    bad = bytearray(prog)
    bad[ss_off + 1] = 13  # DC scan with Se=13
    with _pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(bytes(bad))


def test_progressive_jpeg_fill_bytes_between_scans():
    """0xFF fill bytes are legal before ANY marker, including the SOS
    of a later progressive scan."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    img = np.arange(12 * 20 * 3, dtype=np.uint8).reshape(12, 20, 3)
    prog = encode_jpeg(20, 12, img.tobytes(), progressive=True)
    want = decode_jpeg(prog)
    # pad the SECOND SOS marker with fill bytes
    first = prog.index(b"\xff\xda")
    second = prog.index(b"\xff\xda", first + 2)
    padded = prog[:second] + b"\xff\xff" + prog[second:]
    assert decode_jpeg(padded) == want


def test_png_subbyte_depths_decode():
    """1/2/4-bit PNGs (bit-packed MSB-first, byte-padded rows): gray
    scales by 255/(2^depth-1), palette indexes resolve, the Up filter
    works at byte level, and odd widths exercise row padding."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm.codecs import decode_png, encode_png_subbyte

    w, h = 13, 6
    for depth in (1, 2, 4):
        scale = 255 // ((1 << depth) - 1)
        rng = np.random.RandomState(depth)
        samples = [int(v) for v in rng.randint(0, 1 << depth, w * h)]
        for ft in (0, 2):
            dw, dh, rgb = decode_png(
                encode_png_subbyte(w, h, samples, depth, filter_type=ft)
            )
            a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
            assert (dw, dh) == (w, h)
            want = np.array(samples, dtype=np.uint8).reshape(h, w) * scale
            assert (a[..., 0] == want).all(), (depth, ft)
            assert (a[..., 0] == a[..., 1]).all() and (a[..., 1] == a[..., 2]).all()
        # palette form of the same sample plane
        pal = bytes(rng.randint(0, 256, (1 << depth) * 3).astype(np.uint8).tolist())
        dw, dh, rgb = decode_png(encode_png_subbyte(w, h, samples, depth, palette=pal))
        a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        pal3 = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3)
        assert (a == pal3[np.array(samples).reshape(h, w)]).all(), depth


def test_png_subbyte_adam7_interlaced():
    """Adam7 + sub-byte: each pass bit-packs its OWN rows with its own
    byte padding — built by hand exactly as the spec lays passes out."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    from terra_bonobo_nodes_spark.llm.codecs import (
        _ADAM7,
        _PNG_SIG,
        _png_chunk,
        decode_png,
    )

    w, h, depth = 11, 7, 2
    rng = np.random.RandomState(11)
    img = rng.randint(0, 4, size=(h, w)).astype(np.uint8)
    passes = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        stride = (sub.shape[1] * depth + 7) // 8
        for row in sub:
            packed = bytearray(stride)
            for x, v in enumerate(row):
                bitpos = x * depth
                packed[bitpos // 8] |= int(v) << (8 - depth - bitpos % 8)
            passes.append(0)
            passes.extend(packed)
    ihdr = _struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 1)  # gray, interlaced
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress(bytes(passes)))
        + _png_chunk(b"IEND", b"")
    )
    dw, dh, rgb = decode_png(payload)
    a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    assert (dw, dh) == (w, h)
    assert (a[..., 0] == img * 85).all()


def test_png_subbyte_invalid_forms_fail_fast():
    import pytest as _pytest

    from terra_bonobo_nodes_spark.llm.codecs import decode_png, encode_png_subbyte

    # sub-byte RGB is illegal per the PNG spec: forge depth=4 color=2
    ok = encode_png_subbyte(4, 2, [0] * 8, 4)
    bad = bytearray(ok)
    ihdr_off = ok.index(b"IHDR") + 4
    bad[ihdr_off + 9] = 2  # color byte inside IHDR
    with _pytest.raises(ValueError, match="only valid for gray/palette"):
        decode_png(bytes(bad))
    # out-of-range palette index still caught at sub-byte depths
    pal = bytes([0, 0, 0] * 2)  # 2 entries, but depth-2 samples reach 3
    with _pytest.raises(ValueError, match="out of range"):
        decode_png(encode_png_subbyte(4, 1, [0, 1, 3, 2], 2, palette=pal))


def test_audio_spectral_features_through_spark(spark):
    """Real DSP through the Arrow pipeline: a pure tone's energy lands
    in the band containing its frequency, silence has zero crossings,
    white noise spreads across bands, and rows are bit-stable."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm import multimodal
    from terra_bonobo_nodes_spark.llm.codecs import encode_wav

    rate = 8000
    t = np.arange(rate) / rate  # 1 second
    tone = np.sin(2 * np.pi * 1000 * t)[:, None]  # 1 kHz
    silence = np.zeros((rate, 1))
    rng = np.random.RandomState(2)
    noise = rng.uniform(-0.5, 0.5, size=(rate, 2))  # stereo noise
    assets = spark.createDataFrame(
        [
            (1, encode_wav(rate, tone)),
            (2, encode_wav(rate, silence)),
            (3, encode_wav(rate, noise)),
        ],
        ["asset_id", "payload"],
    )
    feats = multimodal.audio_spectral_features(assets, n_bands=8)
    rows = {r.asset_id: r for r in feats.collect()}
    assert rows[1].sample_rate == rate and rows[1].n_windows > 10
    # 1 kHz at 8 kHz rate, window 1024 -> bin 128 of 513; the dominant
    # band must hold the overwhelming share of the energy
    tone_bands = rows[1].band_energy
    assert max(tone_bands) > 0.95, tone_bands
    # zero-crossing rates: tone ~ 2*f/rate = 0.25, silence = 0
    assert abs(rows[1].zcr - 0.25) < 0.01
    assert rows[2].zcr == 0.0 and sum(rows[2].band_energy) == 0.0
    # noise: energy spread (no band dominates like the tone's)
    assert max(rows[3].band_energy) < 0.9
    # determinism: identical rows on re-run
    again = {r.asset_id: r for r in multimodal.audio_spectral_features(assets).collect()}
    for k in rows:
        assert tuple(rows[k]) == tuple(again[k])


def test_source_quota_sample_caps_and_append_stability(spark):
    """Domain quotas: per-source counts capped, deterministic, and
    append-stable in the prefix sense — adding documents never lets a
    previously-better-ranked keeper be displaced by a WORSE rank."""
    from terra_bonobo_nodes_spark.llm.corpus import source_quota_sample

    rows = [(i, f"s{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = source_quota_sample(df, "source", cap=5)
    counts = {r[0]: r[1] for r in kept.groupBy("source").count().collect()}
    assert counts == {"s0": 5, "s1": 5, "s2": 5}
    kept_ids = {r.doc_id for r in kept.collect()}
    # grow the corpus: survivors of the bigger set that existed before
    # must be a subset of the original keepers (ranks only improve)
    bigger = spark.createDataFrame(
        rows + [(i, f"s{i % 3}") for i in range(60, 90)],
        "doc_id long, source string",
    )
    kept2_ids = {r.doc_id for r in source_quota_sample(bigger, "source", cap=5).collect()}
    assert kept2_ids & set(range(60)) <= kept_ids


def test_collapse_repeated_tokens_edge_cases(spark):
    from terra_bonobo_nodes_spark.llm.corpus import collapse_repeated_tokens

    df = spark.createDataFrame(
        [
            (1, "the the the cat sat sat on on on the mat"),
            (2, "a b a b a"),  # non-consecutive repeats survive
            (3, "x"),
            (4, "y y"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.c for r in df.select("doc_id", collapse_repeated_tokens("text").alias("c")).collect()}
    assert got == {1: "the cat sat on the mat", 2: "a b a b a", 3: "x", 4: "y"}


def test_pca_recovers_planted_direction(spark):
    """Distributed gram -> driver eigh -> distributed projection: on a
    corpus planted with one dominant direction, the first component
    must align with it (|cos| > 0.99) and projections must match a
    local numpy computation."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm import embeddings as E

    rng = np.random.RandomState(4)
    d, n = 16, 400
    direction = rng.randn(d)
    direction /= np.linalg.norm(direction)
    data = (
        rng.randn(n)[:, None] * 5.0 * direction[None, :]
        + rng.randn(n, d) * 0.3
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<double>",
    )
    gram = E.embedding_gram(df, round_dp=None)
    comps = E.pca_components(gram, d, 2)
    assert abs(float(np.dot(comps[0], direction))) > 0.99
    # unit rows, deterministic sign
    assert np.allclose(np.linalg.norm(comps, axis=1), 1.0)
    assert comps[0][int(np.argmax(np.abs(comps[0])))] > 0
    # projection matches numpy (4dp contract)
    got = {r.vec_id: r.pca for r in E.pca_project(df, comps).select("vec_id", "pca").collect()}
    want = data @ comps.T
    for i in range(0, n, 57):
        assert abs(got[i][0] - round(float(want[i][0]), 4)) <= 1e-3
        assert abs(got[i][1] - round(float(want[i][1]), 4)) <= 1e-3


def test_label_centroid_outliers_flags_planted_outlier(spark):
    import numpy as np

    from terra_bonobo_nodes_spark.llm import embeddings as E

    rng = np.random.RandomState(9)
    rows = []
    for i in range(60):
        base = [float(x) for x in rng.randn(8) * 0.1]
        rows.append((i, i % 2, base))
    rows.append((999, 0, [50.0] * 8))  # the corrupt vector
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    out = E.label_centroid_outliers(df, k=1)
    top = {r.label: r.vec_id for r in out.collect()}
    assert top[0] == 999


def test_minhash_xxhash64_fast_path_calibrated_and_equivalent(spark):
    """hash_fn='xxhash64' (the production shingle hash — one JVM call
    instead of md5+hex+conv) must be a drop-in: same near-dup detection
    on planted duplicates, and a mean estimate calibrated to the true
    jaccard within sampling noise. Signatures are NOT interchangeable
    across hash_fn values (documented); bad values fail fast."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm.dedup import minhash_lsh_pairs, minhash_signatures

    rng = np.random.default_rng(1)
    words = [f"w{i:03d}" for i in range(300)]
    rows = []
    for p in range(30):  # planted pairs sharing 2/3 of their words
        base = list(rng.choice(words, 60, replace=False))
        rows.append((2 * p, " ".join(rng.permutation(base[:50]))))
        rows.append((2 * p + 1, " ".join(rng.permutation(base[10:60]))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def sh(t, n=5):
        return {t[i : i + n] for i in range(len(t) - n + 1)}

    true_j = float(
        np.mean(
            [
                len(sh(rows[2 * p][1]) & sh(rows[2 * p + 1][1]))
                / len(sh(rows[2 * p][1]) | sh(rows[2 * p + 1][1]))
                for p in range(30)
            ]
        )
    )
    for fn in ("md5", "xxhash64"):
        pairs = minhash_lsh_pairs(
            docs, min_est_jaccard=0.01, n_hashes=16, bands=16, hash_fn=fn
        )
        got = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
        ests = [got.get((2 * p, 2 * p + 1), 0.0) for p in range(30)]
        assert abs(float(np.mean(ests)) - true_j) < 0.08, (fn, np.mean(ests), true_j)
        # every planted pair is a candidate under exhaustive banding
        assert all(e > 0 for e in ests), fn

    with pytest.raises(ValueError, match="hash_fn"):
        minhash_signatures(docs, hash_fn="sha1")


def test_fix_mojibake_repairs_double_encoding(spark):
    """UTF-8-as-cp1252 double-encoding (the classic crawl corruption)
    must repair exactly for the covered character set, flag a nonzero
    mojibake ratio before repair, and leave clean text untouched."""
    from terra_bonobo_nodes_spark.llm.scrub import (
        _mojibake_table,
        fix_mojibake,
        mojibake_ratio,
    )

    good = "café — “l’été” coûte €5 à Besançon, naïveté garantie"
    # corrupt per character in ONE pass (real mojibake is a single
    # byte-level misdecode, not iterated string replaces)
    tbl = {fixed: broken for broken, fixed in _mojibake_table()}
    bad = "".join(tbl.get(ch, ch) for ch in good)
    assert bad != good
    df = spark.createDataFrame(
        [(1, bad), (2, "plain ascii stays"), (3, None)], "id long, text string"
    )
    rows = {
        r.id: (r.f, r.r)
        for r in df.select(
            "id",
            fix_mojibake("text").alias("f"),
            mojibake_ratio("text").alias("r"),
        ).collect()
    }
    assert rows[1][0] == good and rows[1][1] > 0.1
    assert rows[2] == ("plain ascii stays", 0.0)
    assert rows[3][0] is None  # NULL passes through


        # (50 merges on this corpus still leave multi-token words)


def test_progressive_jpeg_restart_intervals():
    """Progressive + DRI/RSTn (the layout real web progressive files
    carry): every interval resets DC predictors and the EOB run, and
    the decode must be bit-identical to the same image without
    restarts — across subsamplings and down to interval=1 (a restart
    between every single data unit, the maximum-stress case)."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
    for sub in ("444", "422", "420", "gray"):
        plain = decode_jpeg(
            encode_jpeg(40, 24, img.tobytes(), subsampling=sub, progressive=True)
        )
        for ri in (1, 3, 7):
            with_rst = encode_jpeg(
                40, 24, img.tobytes(),
                subsampling=sub, progressive=True, restart_interval=ri,
            )
            assert b"\xff\xdd" in with_rst  # DRI present
            assert decode_jpeg(with_rst) == plain, (sub, ri)


def test_jpeg_16bit_quant_tables_decode():
    """DQT precision 1 (16-bit entries, the high-quality-encoder
    layout): rewrite a fixture's 8-bit DQTs as 16-bit with identical
    values — the decode must be byte-identical."""
    import struct as _struct

    import numpy as np

    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    plain = encode_jpeg(24, 16, img.tobytes())
    want = decode_jpeg(plain)

    out = bytearray()
    pos = 0
    while pos < len(plain):
        if plain[pos : pos + 2] == b"\xff\xdb":
            (seglen,) = _struct.unpack_from(">H", plain, pos + 2)
            body = plain[pos + 4 : pos + 2 + seglen]
            tid = body[0] & 0x0F
            wide = bytes([0x10 | tid]) + b"".join(
                _struct.pack(">H", v) for v in body[1:65]
            )
            out += b"\xff\xdb" + _struct.pack(">H", len(wide) + 2) + wide
            pos += 2 + seglen
        else:
            out.append(plain[pos])
            pos += 1
    assert bytes(out) != plain
    assert decode_jpeg(bytes(out)) == want


def test_decontamination_screens_union_not_intersect(spark):
    """Round-14 review regression: the two screens have different
    minimum-input bounds (trigrams need >= 3 words; winnow
    fingerprints need >= k+window-1 normalized chars), and the merged
    surface must be their UNION — a doc contaminated under one screen
    must never vanish because the other screen could not score it."""
    from terra_bonobo_nodes_spark.llm.corpus import (
        decontaminate,
        decontaminate_substring,
    )

    bench = spark.createDataFrame(
        [(100, "a b c d shared verbatim benchmark sentence fragment")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [
            # empty text: the ngram screen emits it (degenerate gram),
            # the winnow screen has nothing to fingerprint and drops it
            (1, ""),
            # long enough for both screens
            (2, "shared verbatim benchmark sentence fragment and more"),
        ],
        "doc_id long, text string",
    )
    ng = decontaminate(cand, bench, "text", "doc_id", n=3, threshold=0.5).select(
        "doc_id", F.col("contaminated").alias("ngram_contaminated")
    )
    ss = decontaminate_substring(
        cand, bench, "text", "doc_id", k=8, window=4, min_shared=1
    ).select("doc_id", F.col("contaminated").alias("substr_contaminated"))
    merged = {r["doc_id"]: r for r in ng.join(ss, "doc_id", "full").collect()}
    assert 1 in merged, "doc screenable by only one side must survive"
    assert merged[1]["ngram_contaminated"] is not None
    assert merged[1]["substr_contaminated"] is None  # not screenable
    assert merged[2]["substr_contaminated"] is True


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


def test_pii_redact_sql_escapes_single_quotes(duck):
    from terra_bonobo_nodes_spark.llm.scrub import pii_redact_sql

    # a pattern containing a single quote must stay inside the literal
    expr = pii_redact_sql("t", patterns={"apos": r"\w+'s"})
    got = duck.execute(f"SELECT {expr} AS r FROM (SELECT 'the cat''s hat' AS t)").fetchone()[0]
    assert got == "the <APOS> hat"


def test_jpeg_fill_bytes_before_markers_decode_identically():
    import numpy as np

    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    plain = encode_jpeg(24, 16, img.tobytes())
    want = decode_jpeg(plain)
    # T.81 B.1.1.2: pad the first header marker after SOI with fill FFs
    padded = plain[:2] + b"\xff\xff\xff" + plain[2:]
    assert decode_jpeg(padded) == want


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


def test_codec_roundtrip_deterministic_and_correct(spark):
    import numpy as np

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


# --- BM25 (llm/retrieval.py) -------------------------------------------------


def test_bm25_matches_reference_formula(spark):
    from terra_bonobo_nodes_spark.llm.retrieval import bm25_scores

    corpus = {
        1: "spark shuffle join spark spark",
        2: "window functions in spark",
        3: "entirely unrelated prose about gardens",
        4: "window window window",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    out = {r.doc_id: r for r in bm25_scores(df, ["spark", "window"]).collect()}

    # reference computation (same formula, plain Python)
    toks = {d: t.split() for d, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfreq = {
        term: sum(1 for t in toks.values() if term in t)
        for term in ("spark", "window")
    }
    k1, b = 1.2, 0.75
    for d in corpus:
        comps = []
        for term in ("spark", "window"):
            tf = toks[d].count(term)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - dfreq[term] + 0.5) / (dfreq[term] + 0.5))
            comps.append(
                round(
                    idf * (tf * (k1 + 1.0))
                    / (tf + k1 * (1.0 - b + b * len(toks[d]) / avgdl)),
                    9,
                )
            )
        if not comps:
            assert d not in out  # doc 3 hits no term
            continue
        assert out[d].n_terms_hit == len(comps)
        assert out[d].score == pytest.approx(round(sum(comps), 6), abs=1e-6)
    # a two-term hit outranks a single-term hit (tf saturation caps
    # doc 1's repeated 'spark'), and the no-hit doc is absent entirely
    assert out[2].score > out[1].score and 3 not in out


def test_bm25_requires_terms(spark):
    from terra_bonobo_nodes_spark.llm.retrieval import bm25_scores

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        bm25_scores(df, [])

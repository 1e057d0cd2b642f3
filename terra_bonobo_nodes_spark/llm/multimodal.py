"""Multimodal (image/audio/video) column plumbing.

Convention: an asset is an opaque ``payload: binary`` column plus a
typed ``meta: struct<modality, mime, width, height, duration_ms,
sample_rate>`` — the shape ``spark.read.format("binaryFile")`` plus a
metadata join produces in a real ingest. Decoding/resizing/feature
extraction run as Arrow-batched ``mapInPandas`` stages: one Python
process per partition, whole batches per call, payloads never touch the
driver. At 100 TB the knobs that matter are partition sizing
(``spark.sql.files.maxPartitionBytes`` against payload sizes, not row
counts) and ``spark.sql.execution.arrow.maxRecordsPerBatch`` to bound
decode memory per batch.

Pillow/cv2/librosa are NOT in this container, but the four image
formats a crawl actually carries all decode for REAL with stdlib+numpy
alone: BMP and P6 PPM trivially, PNG via zlib + hand-rolled unfiltering
(8/16-bit, Adam7 — ``codecs.py``), and JPEG via a from-spec T.81
implementation covering baseline AND progressive (``jpeg.py``), plus
RIFF PCM WAV for audio. ``decode_features`` remains the deliberately
cheap stub stage (md5-derived pseudo-features) for pipelines that only
need the plumbing; ``decode_image``/``decode_audio`` return actual
pixels/samples with nearest-neighbor resize. MP3/MP4 would need a real
compression library and raise ``NotImplementedError`` — never fake a
decode.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 8

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Adapter: treat the documents table as a binary-asset table (the
    container has no real media files). payload = utf-8 bytes of text;
    meta marks it 'text/plain'. Every downstream op sees only
    (asset_id, payload, meta) — exactly what a binaryFile read yields."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text").alias("modality"),
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


def fake_feature_vector(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a real encoder: dim floats in [0, 1)
    derived from md5(payload || i). Stable across processes/engines."""
    out = []
    for i in range(dim):
        h = hashlib.md5(payload + str(i).encode()).hexdigest()
        out.append(int(h[:8], 16) / 4294967296.0)
    return out


def decode_features(assets: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Real plumbing, stub math: per batch of rows, compute byte length,
    md5 hex, and the fake feature vector. This is the exact shape a
    CLIP/Wav2Vec encoder stage has (swap fake_feature_vector for the
    model call; batch size bounded by Arrow maxRecordsPerBatch)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "payload_md5": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "features": payloads.map(
                        lambda b: fake_feature_vector(bytes(b), dim)
                    ),
                }
            )

    return assets.select("asset_id", "payload").mapInPandas(run, _FEATURES_SCHEMA)


def decode_image(
    assets: DataFrame,
    decoder: Callable[[bytes], tuple[int, int, bytes]] | None = None,
    target: tuple[int, int] = (224, 224),
) -> DataFrame:
    """Decode + resize stage. ``decoder(payload) -> (width, height,
    raw_rgb)`` defaults to ``codecs.image_decoder`` — REAL pure-Python
    decoders for BMP, P6 PPM, PNG (stdlib zlib + hand unfiltering), and
    baseline + progressive JPEG (full Huffman + numpy IDCT, llm/jpeg.py). Unknown
    formats raise ``NotImplementedError`` per the stub policy: a format
    is either actually decoded or loudly unsupported, never faked. ``raw`` in the
    output is the nearest-neighbor resample to ``target`` — the fixed
    tensor shape an encoder stage consumes."""
    from terra_bonobo_nodes_spark.llm import codecs

    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("resized_w", T.IntegerType()),
            T.StructField("resized_h", T.IntegerType()),
            T.StructField("raw", T.BinaryType()),
        ]
    )
    decode = decoder if decoder is not None else codecs.image_decoder
    tw, th = target

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [decode(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "width": [w for w, _, _ in rows],
                    "height": [h for _, h, _ in rows],
                    "resized_w": tw,
                    "resized_h": th,
                    # injected stub decoders may return non-pixel raw
                    # (tests use md5 tokens); only true w*h*3 RGB resizes
                    "raw": [
                        codecs.resize_nearest(w, h, r, tw, th)
                        if len(r) == w * h * 3
                        else r
                        for w, h, r in rows
                    ],
                }
            )

    return assets.select("asset_id", "payload").mapInPandas(run, schema)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def decode_audio(assets: DataFrame) -> DataFrame:
    """Real audio decode for RIFF PCM WAV payloads via the stdlib
    ``wave`` module (8/16/32-bit PCM): per asset, sample rate, channel
    count, frame count, duration, and RMS amplitude. Same Arrow-batched
    mapInPandas shape as decode_image; non-WAV payloads raise."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [codecs.decode_wav(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "sample_rate": [r for r, _, _, _ in decoded],
                    "n_channels": [c for _, c, _, _ in decoded],
                    "n_frames": [n for _, _, n, _ in decoded],
                    "duration_ms": [
                        int(n * 1000 / r) for r, _, n, _ in decoded
                    ],
                    "rms": [
                        float(np.sqrt(np.mean(s**2))) if s.size else 0.0
                        for _, _, _, s in decoded
                    ],
                }
            )

    return assets.select("asset_id", "payload").mapInPandas(run, AUDIO_SCHEMA)


def sample_frames(
    assets: DataFrame,
    every_ms: int = 1000,
    frame_extractor: Callable[[bytes, int], bytes] | None = None,
) -> DataFrame:
    """Video frame sampling: explode each asset into rows at every_ms
    intervals of meta.duration_ms (frame payload from the injected
    extractor, or a deterministic md5 token when stubbed). The explode
    happens JVM-side (sequence + explode) so partition fan-out is
    Catalyst-visible; only frame decode is Python."""
    frames = assets.select(
        "asset_id",
        "payload",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.coalesce(F.col("meta.duration_ms"), F.lit(0)) - 1, F.lit(0)
                ),
                F.lit(every_ms),
            )
        ).alias("frame_ms"),
    )
    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("frame_ms", T.LongType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if frame_extractor is not None:
                frame = [
                    frame_extractor(bytes(b), int(ms))
                    for b, ms in zip(pdf["payload"], pdf["frame_ms"])
                ]
            else:
                frame = [
                    hashlib.md5(bytes(b) + int(ms).to_bytes(8, "big")).digest()
                    for b, ms in zip(pdf["payload"], pdf["frame_ms"])
                ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "frame_ms": pdf["frame_ms"],
                    "frame": frame,
                }
            )

    return frames.mapInPandas(run, schema)


CODEC_BENCH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("enc_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)

_CODEC_BENCH_FORMATS = ("png", "jpeg", "jpeg_progressive")


def codec_roundtrip_seeded(
    ids: DataFrame,
    id_col: str = "doc_id",
    size: tuple[int, int] = (48, 32),
    seed_mod: int = 48,
) -> DataFrame:
    """The codec throughput stage: per id, synthesize a deterministic
    noise image (worst-case entropy-coding load), ENCODE it (format =
    id mod 3: PNG / baseline JPEG / progressive JPEG) and DECODE it
    back, all inside one Arrow-batched ``mapInPandas`` pass. Output is
    fully deterministic (decode means rounded to 4dp), so the stage
    doubles as a correctness row; in bench.py it makes pure-Python
    codec regressions visible as wall-clock (the reference has no codec
    surface to compare against — this is engine-native multimodal
    capacity).

    The noise seed is ``id % seed_mod``: every id still synthesizes,
    encodes and decodes its own image, but only ``seed_mod`` DISTINCT
    images exist, so the stage's entire output is restatable as a
    ``seed_mod``-row known-answer table — a full value-hash oracle.
    ``seed_mod`` must be divisible by 3 so the format is a function of
    the seed class.

    Scale shape: embarrassingly parallel, zero shuffle, driver never
    sees a payload; at 100 TB the partition count is the only knob."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm import codecs
    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    if seed_mod % 3:
        raise ValueError("seed_mod must be divisible by 3 (fmt = id mod 3)")
    w, h = size

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k.name: [] for k in CODEC_BENCH_SCHEMA}
            for did in pdf[id_col]:
                did = int(did)
                rng = np.random.RandomState(did % seed_mod)
                img = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
                fmt = _CODEC_BENCH_FORMATS[did % 3]
                if fmt == "png":
                    payload = codecs.encode_png(w, h, img.tobytes(), 4)
                    dw, dh, raw = codecs.decode_png(payload)
                else:
                    payload = encode_jpeg(
                        w, h, img.tobytes(), progressive=fmt.endswith("progressive")
                    )
                    dw, dh, raw = decode_jpeg(payload)
                px = np.frombuffer(raw, dtype=np.uint8).reshape(dh, dw, 3)
                out["asset_id"].append(did)
                out["fmt"].append(fmt)
                out["enc_bytes"].append(len(payload))
                out["width"].append(dw)
                out["height"].append(dh)
                out["mean_r"].append(round(float(px[..., 0].mean()), 4))
                out["mean_g"].append(round(float(px[..., 1].mean()), 4))
                out["mean_b"].append(round(float(px[..., 2].mean()), 4))
            yield pd.DataFrame(out)

    return ids.select(id_col).mapInPandas(run, CODEC_BENCH_SCHEMA)


SPECTRAL_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_windows", T.IntegerType()),
        T.StructField("zcr", T.DoubleType()),
        T.StructField("band_energy", T.ArrayType(T.DoubleType())),
    ]
)


def audio_spectral_features(
    assets: DataFrame,
    n_bands: int = 8,
    window: int = 1024,
    hop: int = 512,
) -> DataFrame:
    """Real audio DSP over WAV payloads, numpy-only: mono mix, Hann
    windows, rFFT power averaged into ``n_bands`` log-spaced bands
    (normalized to sum 1), plus the zero-crossing rate — the cheap
    spectral fingerprint an audio-curation pipeline uses to separate
    speech / music / tones / silence before an expensive model stage.
    One Arrow-batched ``mapInPandas`` pass, same plumbing as
    ``decode_audio``; non-WAV payloads raise (never fake a decode).
    All outputs rounded to 6dp so rows are engine-stable."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm import codecs

    def _features(payload: bytes) -> tuple[int, int, float, list[float]]:
        rate, _nch, n, samples = codecs.decode_wav(payload)
        mono = samples.mean(axis=1) if samples.ndim > 1 else samples
        if n >= 2:
            zcr = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
        else:
            zcr = 0.0
        if n < window:  # too short for one window: pad to exactly one
            mono = np.pad(mono, (0, window - n))
        starts = range(0, len(mono) - window + 1, hop)
        hann = np.hanning(window)
        power = np.zeros(window // 2 + 1)
        count = 0
        for s in starts:
            spec = np.fft.rfft(mono[s : s + window] * hann)
            power += np.abs(spec) ** 2
            count += 1
        # log-spaced band edges over [1, nyquist_bin]; bin 0 (DC) joins
        # the first band
        edges = np.unique(
            np.round(
                np.logspace(0, np.log10(len(power) - 1), n_bands + 1)
            ).astype(int)
        )
        while len(edges) < n_bands + 1:  # tiny windows: pad edges
            edges = np.append(edges, edges[-1] + 1)
        bands = [
            float(power[int(edges[i]) : int(edges[i + 1]) + (1 if i == n_bands - 1 else 0)].sum())
            for i in range(n_bands)
        ]
        bands[0] += float(power[0])
        total = sum(bands)
        if total > 0:
            bands = [b / total for b in bands]
        return rate, count, round(zcr, 6), [round(b, 6) for b in bands]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in SPECTRAL_SCHEMA}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                rate, count, zcr, bands = _features(bytes(payload))
                out["asset_id"].append(int(aid))
                out["sample_rate"].append(rate)
                out["n_windows"].append(count)
                out["zcr"].append(zcr)
                out["band_energy"].append(bands)
            yield pd.DataFrame(out)

    return assets.select("asset_id", "payload").mapInPandas(run, SPECTRAL_SCHEMA)

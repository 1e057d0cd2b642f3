"""Perceptual image hashing + near-duplicate pairs — the image-column
member of the dedup family (doc-grain MinHash, line-grain CCNet,
span-grain ExactSubstr, embedding-grain SemDeDup; this one keys on
PIXELS, so re-encoded / resized copies of the same image collide
where a byte-hash cannot).

dHash (difference hash, public — Krawetz 2013 'Kind of Like That'):
decode to RGB (the from-spec pure-Python codecs in ``llm/codecs.py`` /
``llm/jpeg.py`` — BMP, P6 PPM, PNG, JPEG), integer-luma grayscale
(``(299*r + 587*g + 114*b) // 1000`` — integer, so the fingerprint is
platform-exact), nearest-neighbor resample to (hash_w+1) x hash_h via
the shared ``resize_nearest`` kernel, then one bit per horizontal
gradient: ``bit = gray[r][c] > gray[r][c+1]``, packed row-major MSB
first into a BIGINT (64 bits at the default 8x8). Deterministic end to
end: same payload -> same fingerprint on any partitioning/executor
count, so the dedup decision replays.

Near-dup pairing reuses the SimHash pigeonhole strategy: split the
fingerprint into ``n_blocks > max_hamming`` exact blocks — every pair
within the radius shares at least one block — equi-join on (block,
value), exact hamming filter inside buckets (``bit_count(a XOR b)``,
JVM-side). :func:`hamming_pairs` is the fingerprint-agnostic form
(works for ANY integer fingerprint column; ``dedup.simhash_pairs``
delegates to it).

Decode errors follow the codec stub policy (a format is decoded or
loudly unsupported, never faked): ``on_error='raise'`` (default)
propagates; ``on_error='null'`` yields a NULL fingerprint for
undecodable payloads — the 100 TB crawl setting where one corrupt
image must not kill the stage — and NULL rows drop out of pairing.

Cross-engine oracle: none by design — DuckDB cannot run the binary
decoders, so this is pytest-verified capability (the
``llm_codec_throughput`` / multimodal precedent), pinned against an
independent pure-Python reference in tests/test_phash.py.

100 TB shape: hashing is an Arrow-batched mapInPandas over the
payload column (one pass, no shuffle); pairing is the banded
equi-join — never an all-pairs product. No counterpart in the
reference repo (no media operators there); this belongs to the
LLM-curation extension.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dhash_bits(
    payload: bytes,
    decoder: Callable[[bytes], tuple[int, int, bytes]] | None = None,
    hash_w: int = 8,
    hash_h: int = 8,
) -> int:
    """The per-image fingerprint, driver/executor-agnostic pure
    Python. Raises whatever the decoder raises on undecodable input
    (``image_decoder``: NotImplementedError / ValueError)."""
    from terra_bonobo_nodes_spark.llm import codecs

    decode = decoder if decoder is not None else codecs.image_decoder
    w, h, rgb = decode(payload)
    small = codecs.resize_nearest(w, h, rgb, hash_w + 1, hash_h)
    bits = 0
    for r in range(hash_h):
        row = small[r * (hash_w + 1) * 3 : (r + 1) * (hash_w + 1) * 3]
        gray = [
            (299 * row[3 * c] + 587 * row[3 * c + 1] + 114 * row[3 * c + 2])
            // 1000
            for c in range(hash_w + 1)
        ]
        for c in range(hash_w):
            bits = (bits << 1) | (1 if gray[c] > gray[c + 1] else 0)
    # two's-complement signed so the value fits Spark's LongType
    # (an all-ones fingerprint would otherwise overflow BIGINT)
    if bits >= 1 << (hash_w * hash_h - 1):
        bits -= 1 << (hash_w * hash_h)
    return bits


def _fingerprint_df(
    assets: DataFrame,
    id_col: str,
    payload_col: str,
    out_col: str,
    fn: Callable[[bytes], int],
    width: int,
    on_error: str,
) -> DataFrame:
    """Shared Arrow-batched (id, fingerprint) scaffolding for every
    per-payload fingerprint kind (image dHash, audio AFP, future
    delegates) — the error policy and batching exist exactly once.
    ``width`` > 64 is rejected UP FRONT: the schema is LongType, and a
    wider fingerprint would otherwise crash pandas' Int64 conversion
    outside the per-item error handling (on_error could not save it)."""
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    if width > 64:
        raise ValueError(
            f"fingerprint width {width} exceeds the 64-bit BIGINT column"
        )
    # the id field keeps the INPUT's type (ADVICE_r13: a LongType pin
    # broke Arrow conversion for string asset ids even though id_col
    # presents as a free parameter); the fingerprint is always BIGINT
    id_field = assets.schema[id_col]
    schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField(out_col, T.LongType()),
        ]
    )

    def one(b) -> int | None:
        try:
            return fn(bytes(b))
        except Exception:
            if on_error == "null":
                return None
            raise

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    out_col: pd.array(
                        [one(b) for b in pdf[payload_col]], dtype="Int64"
                    ),
                }
            )

    return assets.select(id_col, payload_col).mapInPandas(run, schema)


def image_dhash(
    assets: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    decoder: Callable[[bytes], tuple[int, int, bytes]] | None = None,
    hash_w: int = 8,
    hash_h: int = 8,
    on_error: str = "raise",
) -> DataFrame:
    """(id, dhash) — one 64-bit (at 8x8) BIGINT fingerprint per asset,
    Arrow-batched, one pass, no shuffle. ``on_error='null'`` converts
    decode failures to NULL fingerprints instead of failing the stage
    (see module docstring)."""
    return _fingerprint_df(
        assets,
        id_col,
        payload_col,
        "dhash",
        lambda b: dhash_bits(b, decoder, hash_w, hash_h),
        hash_w * hash_h,
        on_error,
    )


def hamming_pairs(
    df: DataFrame,
    id_col: str = "asset_id",
    fp_col: str = "dhash",
    bits: int = 64,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    block_cap: int | None = None,
) -> DataFrame:
    """A dedup-sufficient GENERATOR SET of near-dup pairs: (id_a,
    id_b, hamming) such that connected components over the output
    merge exactly the rows whose fingerprints sit within
    ``max_hamming`` of each other (NULL fingerprints drop out).

    THE SCALE SHAPE — exact duplicates collapse BEFORE the banded
    self-join: identical fingerprints (re-encoded copies, the common
    case) group to one representative (min id) and emit linear
    (rep, member, 0) pairs; only DISTINCT fingerprint values enter the
    pigeonhole join (``n_blocks > max_hamming`` exact blocks force any
    qualifying value pair to share one — completeness by pigeonhole).
    Without the collapse, a corpus of near-identical images makes
    every bucket quadratic in its copy count — measured: a 200k-image
    synthetic sweep of perturbed ramps DNF'd in 10 min row-grain and
    runs in seconds value-grain. Consequence, stated: near pairs carry
    REPRESENTATIVE ids, so a member's cross-group closeness appears
    via its rep (same components, not every qualifying id pair).

    ``block_cap`` (opt-in, the fuzzy.py stop-gram precedent)
    deterministically drops (block, value) buckets with more than that
    many DISTINCT fingerprints — for adversarial corpora where even
    value-grain buckets concentrate; capped recall is reproducible,
    never load-dependent."""
    if n_blocks is None:
        n_blocks = 4 if max_hamming <= 3 else 8
    # ValueError, not assert (module convention — bloom/sketch/kmeans):
    # python -O strips asserts, and a violated pigeonhole precondition
    # would then silently lose near-dup pairs
    if n_blocks <= max_hamming:
        raise ValueError(
            f"pigeonhole needs n_blocks > max_hamming "
            f"(got n_blocks={n_blocks}, max_hamming={max_hamming})"
        )
    if bits % n_blocks:
        raise ValueError(
            f"bits ({bits}) must be divisible by n_blocks ({n_blocks})"
        )
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    from pyspark import StorageLevel

    # persist the INPUT: both the groups aggregate and the exact-pair
    # join consume it, and for the composed operators that input is the
    # decode+hash mapInPandas — without the persist the pure-Python
    # image decode would run twice per asset (the simhash_pairs sh
    # persist rationale)
    fp = (
        df.select(id_col, fp_col)
        .where(F.col(fp_col).isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    groups = (
        fp.groupBy(fp_col)
        .agg(F.min(id_col).alias("_rep"), F.count(F.lit(1)).alias("_n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    exact = (
        fp.join(groups.where(F.col("_n") > 1), fp_col)
        .where(F.col(id_col) != F.col("_rep"))
        .select(
            F.col("_rep").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    reps = groups.select(F.col("_rep").alias("_id"), fp_col)
    # ONE parsed expression for the n_blocks generated structs: building
    # the same tree op-by-op costs a py4j round-trip per operator
    # (~0.3-5 ms each — the minhash_signatures rationale), ~0.5s of
    # pure driver latency per build for the headline 8-block shape.
    # Identical Catalyst tree and results.
    blocks_sql = ", ".join(
        f"struct({i} AS blk, "
        f"(shiftright(`{fp_col}`, {i * block_bits}) & {mask}) AS bv)"
        for i in range(n_blocks)
    )
    blocked = reps.select(
        "_id",
        fp_col,
        F.expr(f"explode(array({blocks_sql}))").alias("bb"),
    ).select("_id", fp_col, "bb.blk", "bb.bv")
    if block_cap is not None:
        sizes = blocked.groupBy("blk", "bv").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        blocked = blocked.join(
            sizes.where(F.col("_bn") <= int(block_cap)), ["blk", "bv"]
        ).drop("_bn")
    left = blocked.select(
        F.col("_id").alias("id_a"), F.col(fp_col).alias("fp_a"), "blk", "bv"
    )
    right = blocked.select(
        F.col("_id").alias("id_b"), F.col(fp_col).alias("fp_b"), "blk", "bv"
    )
    # Dedup WITHOUT a distinct: a candidate pair appears once per
    # agreeing block (the equi-join on (blk, bv) matches exactly where
    # the fps' block slices are equal, i.e. where the XOR's block is
    # zero), so keeping only the FIRST agreeing block keeps exactly one
    # row per qualifying value pair — the spatial joins' reporting-cell
    # rule. The old .distinct() shuffled EVERY candidate row with both
    # fingerprints (weak 4-bit blocks at bits=32 make that millions of
    # rows) before the hamming filter ran; both the filter and the
    # dedup are now evaluated inside the join's own codegen stage and
    # the exchange disappears. Result set identical: the hamming
    # predicate is per-row deterministic (filter-then-dedup ==
    # dedup-then-filter) and ids map 1:1 to fingerprint values here
    # (each id is the min of exactly one fingerprint group).
    xor = F.col("fp_a").bitwiseXOR(F.col("fp_b"))
    cand = (
        left.join(right, ["blk", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(xor))
        .where(F.col("hamming") <= F.lit(int(max_hamming)))
    )
    if block_cap is None:
        # the agree-array + position scan as ONE parsed expression (the
        # blocks_sql rationale above; identical tree and results)
        agree_sql = ", ".join(
            f"((shiftright(fp_a ^ fp_b, {i * block_bits}) & {mask}) = 0)"
            for i in range(n_blocks)
        )
        first_agree_blk = F.expr(
            f"array_position(array({agree_sql}), true) - 1"
        )
        near = cand.where(F.col("blk") == first_agree_blk).select(
            "id_a", "id_b", "hamming"
        )
    else:
        # capped buckets leave the candidate set, so a pair's FIRST
        # agreeing block may be a capped one it never joined in — the
        # reporting-block rule would drop it. Dedup the (now filtered,
        # narrow) survivors instead.
        near = cand.select("id_a", "id_b", "hamming").distinct()
    return near.unionAll(exact)


def image_near_dup_pairs(
    assets: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    decoder: Callable[[bytes], tuple[int, int, bytes]] | None = None,
    max_hamming: int = 3,
    on_error: str = "raise",
) -> DataFrame:
    """The composed operator: decode -> dHash -> pigeonhole pairs.
    Returns the :func:`hamming_pairs` GENERATOR SET — exact-duplicate
    fingerprints as linear (rep, member, 0) pairs plus rep-grain near
    pairs; feed connected components for dedup groups (a member's
    cross-group closeness appears via its representative, not as its
    own id pair)."""
    fps = image_dhash(
        assets, id_col, payload_col, decoder, on_error=on_error
    )
    return hamming_pairs(
        fps, id_col, "dhash", bits=64, max_hamming=max_hamming
    )


# --- audio fingerprint (the WAV sibling; same pairing machinery) -------------


def audio_afp_bits(
    payload: bytes, frames: int = 8, bands: int = 9
) -> int:
    """Chromaprint-style audio fingerprint (Lalinsky 2011, public —
    simplified): mono mix, ``frames`` equal time segments, rFFT power
    per segment into ``bands`` log-spaced bands, one bit per
    BAND GRADIENT within each frame (``E[t][b] > E[t][b+1]``) —
    frames x (bands-1) = 64 bits at the defaults, packed signed like
    :func:`dhash_bits`. Gradient bits are AMPLITUDE-INVARIANT (a
    volume change scales every band together), which is what makes
    this a perceptual key where a byte hash is not. Raises on non-WAV
    payloads (the codec stub policy)."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm import codecs

    _rate, _nch, n, samples = codecs.decode_wav(payload)
    mono = samples.mean(axis=1) if samples.ndim > 1 else samples
    seg = max(len(mono) // frames, 1)
    if len(mono) < frames * seg or len(mono) == 0:
        mono = np.pad(mono, (0, frames * seg - len(mono)))
    bits = 0
    for t in range(frames):
        power = np.abs(np.fft.rfft(mono[t * seg : (t + 1) * seg])) ** 2
        edges = np.unique(
            np.round(
                np.logspace(0, np.log10(max(len(power) - 1, 1)), bands + 1)
            ).astype(int)
        )
        while len(edges) < bands + 1:
            edges = np.append(edges, edges[-1] + 1)
        e = [
            float(power[int(edges[b]) : max(int(edges[b + 1]), int(edges[b]) + 1)].sum())
            for b in range(bands)
        ]
        for b in range(bands - 1):
            bits = (bits << 1) | (1 if e[b] > e[b + 1] else 0)
    width = frames * (bands - 1)
    if bits >= 1 << (width - 1):
        bits -= 1 << width
    return bits


def audio_fingerprint(
    assets: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    frames: int = 8,
    bands: int = 9,
    on_error: str = "raise",
) -> DataFrame:
    """(id, afp) — one 64-bit fingerprint per WAV asset; same batching
    and error policy as :func:`image_dhash` (shared scaffolding)."""
    return _fingerprint_df(
        assets,
        id_col,
        payload_col,
        "afp",
        lambda b: audio_afp_bits(b, frames, bands),
        frames * (bands - 1),
        on_error,
    )


def audio_near_dup_pairs(
    assets: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    on_error: str = "raise",
) -> DataFrame:
    """decode -> audio fingerprint -> pigeonhole pairs (the
    :func:`image_near_dup_pairs` GENERATOR-SET contract at audio
    grain — see :func:`hamming_pairs` for the rep-grain semantics)."""
    fps = audio_fingerprint(assets, id_col, payload_col, on_error=on_error)
    return hamming_pairs(fps, id_col, "afp", bits=64, max_hamming=max_hamming)

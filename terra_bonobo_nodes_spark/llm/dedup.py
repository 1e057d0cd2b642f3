"""Deduplication operators for training-data pipelines.

Five dedup families, each shuffle-conscious for the 100 TB case:

- **exact**: md5 fingerprint of normalized text → groupBy. One shuffle
  on a uniformly distributed 128-bit key; partial aggregation makes the
  map side cheap. Keep-min-id makes the survivor deterministic.
- **MinHash + LSH**: shingle → 32-bit hash → k permutations → banded
  signature → self-join on (band, band_hash). The join key is a hash —
  uniform unless the corpus has huge near-dup clusters; for those, cap
  band-bucket size (``max_band_bucket``) exactly like production LSH
  dedup pipelines drop degenerate buckets.
- **SimHash**: 32-bit majority-vote signature; candidate generation by
  byte-block pigeonhole (hamming <= 3 over 4 blocks guarantees one
  equal block), then exact hamming filter. Only equal-block pairs are
  ever materialized.
- **n-gram Jaccard**: exact set similarity via the *exploded inverted
  index* formulation — (doc, shingle) rows self-joined on shingle, pair
  counts vs per-doc distinct counts. This is the scalable shape (no
  quadratic array ops); ``max_shingle_df`` drops stop-shingles that
  would otherwise create O(df²) pair blowups.
- **embedding cosine**: exact threshold pairs; at scale use
  ``block_col`` (e.g. an LSH bucket from similarity.lsh_topk's
  signature) to avoid the full cross product.

All text-hash paths are pure Column expressions with DuckDB-parity
(see hashing.py) so the driver's oracle can verify them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm.hashing import (
    band_hash_sparksql,
    hash32,
    hex_window,
    normalize,
)


def _banded_explode_expr(bands: int, rows_per_band: int):
    """The per-band (band, band_hash) struct explode as ONE parsed
    expression — op-by-op Column building pays a py4j round-trip per
    operator (the minhash_signatures rationale), ~0.2s per build for
    the headline 4-band shape. Identical Catalyst tree and results."""
    structs = ", ".join(
        f"struct({b} AS band, "
        f"{band_hash_sparksql('sig', b, rows_per_band)} AS bh)"
        for b in range(bands)
    )
    return F.expr(f"explode(array({structs}))")


def _est_jaccard_expr(a: str, b: str, n_hashes: int):
    """Matching-component fraction of two signature columns as one
    parsed expression (same rationale as :func:`_banded_explode_expr`)."""
    return F.expr(
        f"cast(size(filter(zip_with({a}, {b}, (x, y) -> x = y), "
        f"eq -> eq)) as double) / {float(n_hashes)!r}D"
    ).alias("est_jaccard")


def _cap_metrics(counted: DataFrame, over_cap: Column, name: str) -> DataFrame:
    """1-row companion metrics DataFrame counting rows over a skew cap.

    Companion aggregate rather than ``df.observe``: AQE empty-relation
    propagation can remove a CollectMetrics node together with an empty
    join side, losing the metric exactly when everything was capped.
    ``counted`` is derived from the op's persisted/checkpointed
    intermediate, so evaluating the metric is one cheap extra job."""
    return counted.agg(
        F.coalesce(F.sum(F.when(over_cap, 1)), F.lit(0)).cast("long").alias(name)
    )


def _capped(
    df: DataFrame,
    partition_cols: list[str],
    cap: int | None,
    metric_name: str,
    with_metrics: bool,
) -> tuple[DataFrame, DataFrame | None]:
    """The shared skew-cap shape: count rows per ``partition_cols`` key
    with a window, DROP rows in over-``cap`` groups, and (optionally)
    report the dropped-row count as a 1-row companion DataFrame.
    ``cap=None`` passes rows through with a literal-zero metric —
    nothing can be dropped when no cap is configured."""
    if cap is None:
        metrics = None
        if with_metrics:
            metrics = df.sparkSession.range(1).select(
                F.lit(0).cast("long").alias(metric_name)
            )
        return df, metrics
    w = Window.partitionBy(*partition_cols)
    counted = df.withColumn("_capn", F.count(F.lit(1)).over(w))
    metrics = (
        _cap_metrics(counted, F.col("_capn") > cap, metric_name)
        if with_metrics
        else None
    )
    return counted.where(F.col("_capn") <= cap).drop("_capn"), metrics


def fingerprint_col(text):
    """md5 of normalized text — the exact-dedup key."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(normalize(c))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per normalized-text fingerprint (min id wins)."""
    w = Window.partitionBy(fingerprint_col(text_col)).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fingerprint groups: (fingerprint, n_docs, keep_id). keep_id is the
    min id — the canonical survivor."""
    return df.groupBy(fingerprint_col(text_col).alias("fingerprint")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(id_col).alias("keep_id"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle_n: int = 5,
    word_grams: bool = False,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, sig) MinHash signatures via the *inverted* formulation:
    explode distinct shingles to rows, hash each ONCE, then
    groupBy(id).agg(k × min((h·a+b) mod p)).

    Why not array_min(transform(...)) per permutation? Catalyst's
    project collapsing re-inlines the shingle+md5 pipeline into each of
    the k references — O(k·|shingles|) md5/regex evaluations per row
    (measured 100× slower). The exploded shape hashes each shingle once
    and the k mins are map-side partial aggregates — at 100 TB the
    shuffle carries only (id, k longs) per document."""
    from terra_bonobo_nodes_spark.llm.hashing import (
        MINHASH_P,
        explode_char_shingles,
        explode_word_shingles,
        perm_params,
    )

    explode_fn = explode_word_shingles if word_grams else explode_char_shingles
    # no distinct: min over a multiset equals min over its set, so
    # duplicate shingles can't change any signature component.
    # Hash choice, measured at sf0.1 (1.46M shingles, local[32]): the
    # unrolled substr/ascii polynomial costs ~5x md5 because EACH
    # substring+ascii expression call carries ~µs-scale per-row overhead
    # (one substr+ascii alone: 3.2s; full 5-step Horner: 6.9s; a single
    # md5+conv call: 2.4s; xxhash64: ~0.3s but no DuckDB mirror).
    # Fewer expression calls win — md5-based hash32 stays the DEFAULT
    # because it is oracle-mirrorable via hash32_sql; hash_fn="xxhash64"
    # is the production lever (same banding math, ~8x cheaper shingle
    # hashing; signatures are NOT interchangeable across hash_fn values,
    # so persisted-signature pipelines must pick one and stick to it).
    if hash_fn == "md5":
        shingle_hash = hash32(F.col("shingle"))
    elif hash_fn == "xxhash64":
        from terra_bonobo_nodes_spark.llm.hashing import shingle_hash_fast

        shingle_hash = shingle_hash_fast(F.col("shingle"))
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    posting = explode_fn(df, id_col, text_col, shingle_n).select(
        id_col, shingle_hash.alias("_h")
    )
    params = perm_params(n_hashes)
    # each aggregate as ONE parsed SQL expression: building the
    # equivalent Column tree op-by-op costs ~1-5 ms of client/py4j
    # round-trips PER operator in PySpark 4, which for k generated
    # aggregates is hundreds of ms of pure driver latency per build
    # (measured r17 on the simhash twin: 1.05s -> 0.18s, identical
    # results). Same Catalyst tree either way.
    aggs = [
        F.expr(f"min((_h * {a}L + {b}L) % {MINHASH_P}L) AS _m{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = "array(" + ", ".join(f"_m{i}" for i in range(n_hashes)) + ")"
    return (
        posting.groupBy(id_col)
        .agg(*aggs)
        .select(id_col, F.expr(sig).alias("sig"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    word_grams: bool = False,
    min_est_jaccard: float = 0.0,
    max_band_bucket: int | None = None,
    with_metrics: bool = False,
    hash_fn: str = "md5",
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """LSH candidate pairs (id_a < id_b) with the MinHash-estimated
    jaccard (fraction of equal signature components).
    ``hash_fn="xxhash64"`` switches the shingle hash to the ~8x-cheaper
    JVM fast path (see :func:`minhash_signatures`) — the production
    setting when no engine-external oracle has to replay the hashes.

    Plan shape: signatures (narrow) → explode bands (xN) → self-join on
    (band, hash) → distinct pairs → estimate. The distinct collapses
    pairs that collide in several bands. ``max_band_bucket`` drops
    pathological buckets (all-identical spam clusters) before the join
    — observably, not silently: ``with_metrics=True`` returns
    ``(pairs, metrics)`` with a 1-row ``n_capped_band_rows`` DataFrame
    counting the (doc, band) rows the cap excluded (see
    :func:`_cap_metrics`; reads the persisted signatures, one cheap
    extra job).
    """
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, n_hashes, shingle_n, word_grams, hash_fn
    )
    # the self-join references sigs on both sides and Catalyst can't
    # reuse across a BroadcastExchange — without this the whole
    # shingle+hash pipeline runs twice. Signatures are k longs per doc
    # (~1000x smaller than the text), so MEMORY_AND_DISK is the right
    # call even at corpus scale; a production pipeline would write them
    # to a table here.
    from pyspark import StorageLevel

    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    banded = sigs.select(
        id_col,
        "sig",
        _banded_explode_expr(bands, rows_per_band).alias("bb"),
    ).select(id_col, "sig", "bb.band", "bb.bh")
    banded, metrics = _capped(
        banded, ["band", "bh"], max_band_bucket, "n_capped_band_rows", with_metrics
    )
    left = banded.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "band", "bh"
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "band", "bh"
    )
    est = _est_jaccard_expr("sig_a", "sig_b", n_hashes)
    # estimate + threshold BEFORE the multi-band dedup, dedup on the
    # narrow 3-col survivors: est is a deterministic per-pair function
    # of the signatures (each id carries exactly one sig), so
    # filter-then-distinct == distinct-then-filter — but the old order
    # shuffled every candidate row with BOTH 16-long signatures aboard;
    # this one evaluates est inside the join's codegen stage and
    # exchanges only (id_a, id_b, est) for rows that survive the
    # threshold.
    pairs = left.join(right, ["band", "bh"]).where(F.col("id_a") < F.col("id_b"))
    out = pairs.select("id_a", "id_b", est)
    if min_est_jaccard > 0:
        out = out.where(F.col("est_jaccard") >= min_est_jaccard)
    out = out.distinct()
    if with_metrics:
        return out, metrics
    return out


def simhash_col(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """(id, simhash) over word-token hashes of the normalized text.

    Inverted formulation (see minhash_signatures): explode token hashes
    (duplicates kept — frequency weights the vote), one md5 per token,
    then per-bit majority via bits × sum(...) partial aggregates.

    The token hash is WIDTH-MATCHED to ``bits`` (ceil(bits/4) md5 hex
    chars): a fixed 32-bit hash under bits > 32 would leave the high
    simhash bits constant-zero for every doc — 100% spurious agreement
    on those bits, inflating every similarity estimate (caught by the
    estimator-vs-truth test). bits <= 60 keeps the hash, and the
    ``1 << (bits-1)`` term below, inside a signed long. For bits in
    29..32 (nhex = 8) this is bit-identical to the historical hash32
    path; narrower widths take the HIGH md5 nibbles (ceil(bits/4) hex
    chars) where hash32 would keep the low bits of its 8-char prefix —
    signatures persisted under one width are comparable only to
    signatures of the same width."""
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    nhex = (bits + 3) // 4
    toks = F.split(normalize(F.col(text_col)), " ")
    posting = df.select(F.col(id_col), F.explode(toks).alias("_t")).select(
        id_col,
        hex_window(F.md5(F.col("_t")), 1, nhex).alias("_h"),
    )
    # SQL-string expressions, not per-op Column building: the bits×
    # (sum/shiftright/&) aggregates plus the bits-term majority sum cost
    # ~1s of client/py4j round-trips per BUILD as Column ops (measured
    # r17; ~0.18s as parsed expressions, identical Catalyst tree and
    # results). This function builds once per simhash_pairs call, which
    # sits on the headline neardup row.
    aggs = [F.expr("count(1) AS _n")] + [
        F.expr(f"sum(shiftright(_h, {b}) & 1) AS _c{b}") for b in range(bits)
    ]
    grouped = posting.groupBy(id_col).agg(*aggs)
    majority = " + ".join(
        f"(CASE WHEN _c{b} * 2 >= _n THEN CAST({1 << b} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return grouped.select(F.col(id_col), F.expr(majority).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """A dedup-sufficient GENERATOR SET of near-dup pairs with
    hamming(simhash) <= max_hamming, delegated to the shared pigeonhole
    kernel ``phash.hamming_pairs`` (round 14 — this function previously
    inlined its own copy of the banded join; VERDICT_r12/r13 standing
    item).

    Contract (the kernel's): exact-duplicate simhashes collapse to one
    representative (min id) emitting linear (rep, member, 0) rows, and
    only DISTINCT simhash values enter the pigeonhole join — connected
    components over the output merge exactly the rows within
    ``max_hamming``, but a member's cross-group closeness appears via
    its representative rather than as every qualifying id pair. That
    value-grain collapse is the 100 TB shape: a boilerplate-heavy crawl
    makes identical simhashes the COMMON case, and row-grain buckets go
    quadratic in the copy count (measured in phash.py: 200k-asset
    sweep, 10 min row-grain DNF -> seconds value-grain).
    """
    # one long per doc; the kernel persists its input so the groups
    # aggregate and the banded join don't recompute the token-hash
    # pipeline twice (see minhash_lsh_pairs)
    from terra_bonobo_nodes_spark.llm.phash import hamming_pairs

    sh = simhash_col(df, text_col, id_col, bits)
    return hamming_pairs(
        sh,
        id_col=id_col,
        fp_col="simhash",
        bits=bits,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    word_grams: bool = True,
    min_jaccard: float = 0.5,
    max_shingle_df: int | None = None,
    with_metrics: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Exact n-gram Jaccard pairs via inverted index self-join.

    jaccard = |A ∩ B| / (|A| + |B| − |A ∩ B|) over DISTINCT shingles.
    The common-shingle count comes from a (doc, shingle) self-join —
    linear in posting-list sizes, never quadratic in docs. The exactness
    caveat: dropping stop-shingles via ``max_shingle_df`` changes the
    sets but is mandatory at corpus scale — and is observable, not
    silent: ``with_metrics=True`` returns ``(pairs, metrics)`` with a
    1-row ``n_capped_posting_rows`` DataFrame counting the
    (doc, shingle) posting rows the cap excluded (reads the persisted
    posting relation — one cheap extra job, see :func:`_cap_metrics`).
    """
    from terra_bonobo_nodes_spark.llm.hashing import (
        explode_char_shingles,
        explode_word_shingles,
    )

    from pyspark import StorageLevel

    explode_fn = explode_word_shingles if word_grams else explode_char_shingles
    # referenced three times below (sizes + both join sides)
    posting = (
        explode_fn(df, id_col, text_col, shingle_n)
        .dropDuplicates([id_col, "shingle"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    posting, metrics = _capped(
        posting, ["shingle"], max_shingle_df, "n_capped_posting_rows", with_metrics
    )
    sizes = posting.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        posting.select(F.col(id_col).alias("id_a"), "shingle")
        .join(posting.select(F.col(id_col).alias("id_b"), "shingle"), "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )
    if with_metrics:
        return out, metrics
    return out


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 10,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (doc_id,
    component_id) where component_id is the minimum doc id reachable
    through the pair graph. This is the step that turns pairwise dedup
    output into "keep one per cluster" decisions.

    Algorithm: iterative min-label propagation with POINTER JUMPING —
    each round every node adopts the smallest label among itself and
    its neighbors (large-star step), then adopts its label's label
    (path-halving shortcut). The shortcut is what makes convergence
    logarithmic in component diameter (~2^max_iterations hops covered),
    not linear. Fixed point is detected by comparing the per-iteration
    sum+count of labels (labels only decrease — equal aggregates mean
    no label moved); the 2-scalar ``collect`` is the convergence
    signature, not a data materialization. Each iteration is two
    shuffle-joins over the EDGE list / label table — never the
    transitive closure. If the loop exhausts without reaching the
    fixed point a RuntimeError is raised (silently returning split
    components would corrupt dedup decisions downstream).
    """
    # localCheckpoint (not persist): truncates the LOGICAL plan, not
    # just execution. With persist alone each iteration re-analyzes the
    # whole join lineage so far — Catalyst planning time grows
    # super-linearly with iteration count and dominates wall clock for
    # small graphs. The lineage cut trades recompute-on-executor-loss
    # for constant per-iteration planning, the right trade for an
    # iterative refinement whose state is (node, label) pairs.
    # Symmetrize with explode, NOT union-of-two-selects: a union reads
    # `pairs` twice, and when pairs is an unmaterialized pipeline (the
    # usual case — LSH candidate generation feeding straight in) the
    # whole upstream plan would execute twice. One scan, two rows out.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    prev_sig = None
    converged = False
    # max_iterations bounds the label-propagation ROUNDS; convergence is
    # detected by a confirming pass whose signature matches the previous
    # round, so allow one extra loop turn — otherwise a graph that
    # reaches its fixed point exactly on round max_iterations (or a
    # trivially-converged graph with max_iterations=1) would raise.
    for _ in range(max_iterations + 1):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("_nl")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("_nl").alias("_nmin"))
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("_nmin"), F.col("label"))
            ).alias("label"),
        )
        # pointer jump: label := label's label (every label is itself a
        # node id, so the self-join always finds it)
        jumped = stepped.join(
            stepped.select(F.col("node").alias("label"), F.col("label").alias("_ll")),
            "label",
            "left",
        ).select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))).alias(
                "label"
            ),
        )
        labels = jumped.localCheckpoint()  # eager: materializes the round
        sig = labels.agg(
            F.sum("label").alias("s"), F.count(F.lit(1)).alias("c")
        ).collect()[0]
        if prev_sig == (sig.s, sig.c):
            converged = True
            break
        prev_sig = (sig.s, sig.c)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; raise max_iterations (coverage doubles per step)"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs with cosine >= threshold.

    Without ``block_col`` this is the exact O(n²) reference answer (fine
    for oracle-scale); with it, the join keys on the block first — pass
    an LSH bucket (similarity.hyperplane_signature) for the 100 TB path.
    """
    from terra_bonobo_nodes_spark.llm.similarity import dot_exact, norm

    base = [
        F.col(vec_col),
        norm(vec_col).alias("_n"),
    ]
    if block_col is not None:
        base.append(F.col(block_col).alias("_blk"))
    pre = df.select(F.col(id_col), *base)
    a = pre.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.col("_n").alias("_na"),
        *([F.col("_blk")] if block_col else []),
    )
    b = pre.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"),
        *([F.col("_blk")] if block_col else []),
    )
    joined = a.join(b, "_blk") if block_col is not None else a.crossJoin(b)
    return (
        joined.where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                dot_exact("_va", "_vb") / (F.col("_na") * F.col("_nb"))
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def minhash_lsh_match(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    word_grams: bool = False,
    min_est_jaccard: float = 0.0,
    max_band_bucket: int | None = None,
    with_metrics: bool = False,
    hash_fn: str = "md5",
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Incremental-ingestion dedup: LSH-match NEW documents against an
    EXISTING corpus — the asymmetric form of :func:`minhash_lsh_pairs`
    used at ingestion time (is this incoming batch a near-dup of
    anything already stored?). Emits (new_id, corpus_id, est_jaccard).

    Plan: both sides go through the same inverted signature pipeline
    and band explode, then ONE equi-join on (band, hash) — never a
    self-join, never new×new or corpus×corpus pairs. At 100 TB the
    corpus side's signatures are the thing a production pipeline
    PERSISTS between batches (k longs per doc — this function accepts a
    precomputed ``sig`` column and skips re-hashing when present);
    each incoming batch then costs its own shingling plus one shuffle
    of the batch-side bands against the stored, already-partitioned
    band table. ``max_band_bucket`` caps pathological corpus buckets
    exactly like the self-join form; with ``with_metrics=True`` the
    excluded (corpus, band) row count comes back as a 1-row companion
    ``n_capped_band_rows`` DataFrame (see :func:`_cap_metrics`)."""
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    rows_per_band = n_hashes // bands

    def _banded(df: DataFrame, out_id: str) -> DataFrame:
        if "sig" in df.columns:
            # ADVICE_r06: the fast path used any column literally named
            # 'sig' — a coincidental column, or one built with different
            # n_hashes, silently produced wrong band hashes. Validate the
            # dtype eagerly and the length in-plan (assert_true wired
            # into the projection so pruning can't drop the guard).
            sig_t = dict(df.dtypes)["sig"]
            if sig_t != "array<bigint>":
                # exact element type, not just "some array": a
                # coincidental array<double> (e.g. an embedding) of the
                # right length would otherwise hash garbage bands
                raise ValueError(
                    f"minhash_lsh_match: column 'sig' has type {sig_t}, "
                    "expected array<bigint> as produced by "
                    "minhash_signatures — rename the column if it is not "
                    "a precomputed signature"
                )
            sig_ok = F.when(
                F.assert_true(
                    F.size("sig") == n_hashes,
                    f"minhash_lsh_match: precomputed 'sig' length != "
                    f"n_hashes={n_hashes} — signatures built with "
                    "different parameters cannot be banded consistently",
                ).isNull(),
                F.col("sig"),
            )
            sigs = df.select(F.col(id_col).alias(out_id), sig_ok.alias("sig"))
        else:
            sigs = minhash_signatures(
                df, text_col, id_col, n_hashes, shingle_n, word_grams, hash_fn
            ).select(F.col(id_col).alias(out_id), "sig")
        return sigs.select(
            out_id,
            "sig",
            _banded_explode_expr(bands, rows_per_band).alias("bb"),
        ).select(out_id, "sig", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    new_b = _banded(new_df, "new_id").withColumnRenamed("sig", "sig_n")
    cor_b = _banded(corpus_df, "corpus_id").withColumnRenamed("sig", "sig_c")
    cor_b, metrics = _capped(
        cor_b, ["band", "bh"], max_band_bucket, "n_capped_band_rows", with_metrics
    )
    est = _est_jaccard_expr("sig_n", "sig_c", n_hashes)
    # estimate + threshold before the multi-band dedup, then a narrow
    # 3-col distinct — the minhash_lsh_pairs rationale: est is a
    # deterministic per-pair function of the signatures, so the
    # reorder cannot change the result set, and the exchange stops
    # carrying both 16-long signatures for every candidate row.
    pairs = new_b.join(cor_b, ["band", "bh"])
    out = pairs.select("new_id", "corpus_id", est)
    if min_est_jaccard > 0:
        out = out.where(F.col("est_jaccard") >= min_est_jaccard)
    out = out.distinct()
    if with_metrics:
        return out, metrics
    return out

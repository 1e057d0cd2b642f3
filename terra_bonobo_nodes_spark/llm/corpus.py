"""Corpus assembly operators: token-stream packing and stratified
sampling — the steps between "filtered documents" and "training
batches" in an LLM data pipeline.

Both are deterministic functions of (seed, ids) with zero Python in the
hot path, so assignments are reproducible across runs, engines and
cluster sizes, and every operator here is exactly mirrorable in the
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm.hashing import (
    hash32,
    row_hash,
    row_hash_sql,
    shard_key,
    shard_key_sql,
    unit32,
)


def chunk_assignments(
    df: DataFrame,
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    budget: int = 2048,
    n_shards: int = 32,
    shard_col: str | None = None,
) -> DataFrame:
    """GPT-style pack-and-chunk layout: documents are concatenated into
    a token stream (per shard, ordered by id) and the stream is cut
    every ``budget`` tokens; a document may straddle a cut, exactly like
    pretraining sequence packing. Emits per doc: its shard, the
    exclusive cumulative offset of its first token, and the first/last
    chunk indices it lands in.

    Sharding: a global concatenation order would be a single-task
    window at 100 TB, so the stream is split into ``n_shards``
    independent streams by a deterministic hash of the id (or an
    explicit ``shard_col``) — the standard data-parallel sharding of a
    training corpus. One shuffle (the window partition); everything
    else is arithmetic on the running sum.
    """
    shard = (
        F.col(shard_col)
        if shard_col is not None
        else shard_key(id_col, n_shards)
    ).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(F.col(n_tokens_col)).over(w), F.lit(0)).cast("long")
    out = df.select(F.col(id_col), F.col(n_tokens_col), shard).withColumn(
        "start_offset", start
    )
    return out.select(
        id_col,
        "shard",
        F.col(n_tokens_col).cast("long").alias(n_tokens_col),
        "start_offset",
        F.floor(F.col("start_offset") / budget).cast("long").alias("first_chunk"),
        F.floor(
            (F.col("start_offset") + F.greatest(F.col(n_tokens_col) - 1, F.lit(0)))
            / budget
        )
        .cast("long")
        .alias("last_chunk"),
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: str = "tbns-sample-v1",
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row when the
    seeded md5 u32 of its id falls below the stratum's rate. The
    standard corpus-mixing step (e.g. downweight a crawl, upweight a
    curated source) — reproducible and append-stable like hash_split,
    and uncorrelated with hash_split's assignment as long as the seeds
    differ. No shuffle; the filter pushes down to the scan column set.
    """
    u = unit32(row_hash(id_col, seed))
    rate = None
    for name, r in sorted(rates.items()):
        cond = F.col(stratum_col) == F.lit(name)
        rate = F.when(cond, F.lit(r)) if rate is None else rate.when(cond, F.lit(r))
    rate = F.lit(default_rate) if rate is None else rate.otherwise(F.lit(default_rate))
    return df.where(u < rate)


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination by word n-gram containment — the
    standard train/test-overlap check run before every serious
    pretraining mix (public recipe: GPT-3 appendix C / Dodge et al.
    2021 use 8-13-gram overlap against eval sets). Emits per candidate
    doc: distinct-gram count, hit count against the benchmark's
    distinct-gram set, their ratio, and a ``contaminated`` flag at
    ``threshold``.

    Plan: explode both sides to (id, gram) with the tokens materialized
    once per doc (``explode_word_shingles`` — no Catalyst re-inlining),
    dedupe per doc, LEFT SEMI join on the gram, then two cheap per-id
    aggregates. One shuffle on the gram key + one on the id; the
    benchmark side is distinct-gram only, so AQE broadcasts it whenever
    the eval set is small (the common case) and the same plan holds
    big-big. No driver-side state of any size.
    """
    from terra_bonobo_nodes_spark.llm.hashing import explode_word_shingles

    cand = explode_word_shingles(df, id_col, text_col, n).dropDuplicates(
        [id_col, "shingle"]
    )
    bench = (
        explode_word_shingles(benchmark, id_col, text_col, n)
        .select("shingle")
        .distinct()
    )
    # ONE pass over the candidate grams (r17 optimization): a LEFT join
    # against the benchmark's DISTINCT gram set preserves cardinality
    # (each cand row matches at most one bench row), so total and hit
    # counts come out of a single aggregate — the old totals/hits twin
    # branches re-ran the whole explode+dedup pipeline twice and paid
    # an extra id-join to recombine. count(_hit) counts non-NULLs, so
    # the zero-hit coalesce is free too. Row set and values identical.
    out = (
        cand.join(bench.withColumn("_hit", F.lit(1)), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_hits"),
        )
    )
    containment = F.col("n_hits") / F.col("n_grams")
    return out.select(
        id_col,
        "n_grams",
        "n_hits",
        F.round(containment, 6).alias("containment"),
        (containment >= F.lit(float(threshold))).alias("contaminated"),
    )


def temperature_mix_weights(
    df: DataFrame,
    group_col: str = "source",
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-scaled multinomial mixing weights per group — the
    public multilingual-corpus sampling recipe (mT5/XLM-R: sample group
    g with probability p_g^alpha / sum p^alpha, alpha < 1 upweights
    small groups). Emits per group: doc count, natural share, scaled
    weight, and the resulting over/under-sampling factor.

    Plan: one partial+final aggregate to per-group counts (tiny by
    definition — one row per group), then a broadcast cross join of the
    two scalar totals; no single-partition window, no driver loop.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    scaled = counts.withColumn(
        "_s", F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
    )
    totals = scaled.agg(
        F.sum("n_docs").alias("_tot_n"), F.sum("_s").alias("_tot_s")
    )
    out = scaled.crossJoin(F.broadcast(totals))
    share = F.col("n_docs") / F.col("_tot_n")
    weight = F.col("_s") / F.col("_tot_s")
    return out.select(
        group_col,
        "n_docs",
        F.round(share, 6).alias("natural_share"),
        F.round(weight, 6).alias("mix_weight"),
        F.round(weight / share, 6).alias("boost"),
    )


def reservoir_sample(
    df: DataFrame,
    group_cols: list[str],
    n: int,
    id_col: str = "doc_id",
    seed: str = "tbns-reservoir-v1",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Deterministic fixed-SIZE per-group sample (the eval-set builder:
    'exactly n held-out docs per language/source'), complementing
    :func:`stratified_sample`'s fixed-RATE filter. Rows rank by the
    seeded md5 of their id within the group — a uniform random order
    that is reproducible across engines, partitionings and reruns, and
    stable under appends (new rows displace old ones only by hash
    order, never by arrival order). One shuffle on the group key; the
    window's per-group state is the running rank, not the group."""
    order = row_hash(id_col, seed)
    w = Window.partitionBy(*group_cols).orderBy(order.asc(), F.col(id_col).asc())
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= n)
    )


def decontaminate_substring(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    min_shared: int = 1,
) -> DataFrame:
    """Exact-substring benchmark decontamination via winnowed
    fingerprints (Schleimer et al. 2003) — the paraphrase-resistant
    complement to n-gram containment (:func:`decontaminate`): by the
    winnowing guarantee, any candidate document sharing a verbatim
    substring of length >= k + window - 1 characters (normalized) with
    ANY benchmark document shares at least one fingerprint, no matter
    how the surrounding text was rewritten. This is the MOSS match
    step run asymmetrically, candidates x benchmark.

    Emits per candidate doc: fingerprint count, fingerprints also in
    the benchmark set, and a ``contaminated`` flag at ``min_shared``.
    Documents too short to produce any fingerprint (normalized length
    < k) are absent from the report — they cannot contain a
    k+window-1-char overlap by construction (same contract as the
    n-gram form's sub-n-word documents).

    Plan (100 TB shape): both sides winnow in an Arrow kernel
    (llm/text.winnow_fingerprints — one pass, no self-join), the
    benchmark reduces to its DISTINCT fingerprint set (an eval suite is
    MBs; the candidate corpus is the TB side), then one LEFT SEMI join
    on the fingerprint — AQE broadcasts the benchmark set, so the
    corpus is never shuffled: scan -> kernel -> map-side semi-join ->
    one aggregate on the id. Never candidate x candidate.
    """
    from terra_bonobo_nodes_spark.llm.text import winnow_fingerprints

    cand = winnow_fingerprints(df, text_col, "_fps", k, window).select(
        F.col(id_col), F.explode("_fps").alias("fp")
    )
    bench = (
        winnow_fingerprints(benchmark, text_col, "_fps", k, window)
        .select(F.explode("_fps").alias("fp"))
        .distinct()
    )
    # ONE pass over the candidate posting (the decontaminate
    # rationale): LEFT join against the DISTINCT fingerprint set
    # preserves cardinality, so one aggregate yields both counts, and
    # the winnow kernel runs once per candidate document.
    out = (
        cand.join(bench.withColumn("_hit", F.lit(1)), "fp", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.count("_hit").alias("n_shared_fp"),
        )
    )
    return out.select(
        id_col,
        "n_fp",
        "n_shared_fp",
        (F.col("n_shared_fp") >= F.lit(int(min_shared))).alias("contaminated"),
    )


def source_quota_sample(
    df: DataFrame,
    source_col: str = "source",
    cap: int = 100,
    id_col: str = "doc_id",
    seed: str = "tbns-quota-v1",
) -> DataFrame:
    """Per-source contribution caps (the 'domain quota' curation step:
    no single site/dump may dominate the mix): keep at most ``cap``
    documents per source, chosen DETERMINISTICALLY by seeded hash rank
    so the sample is reproducible and append-stable in the prefix sense
    — a document's rank never improves when new documents arrive, so a
    kept set only shrinks toward better-ranked newcomers, never
    reshuffles arbitrarily.

    Plan: ONE window shuffle on the source key (rank + filter); no
    join, no collect. At 100 TB the hazard is a mega-source skewing one
    partition — the window still computes (rank is a streaming window
    function, no buffering past the frame), and AQE's skew handling
    splits the sort; for pathological single-source corpora pre-salt by
    ``hash(id) % k`` and take per-salt caps of ``cap/k``. This is
    :func:`reservoir_sample` on the source key, rank column dropped.
    """
    return reservoir_sample(df, [source_col], cap, id_col, seed, "_qrank").drop(
        "_qrank"
    )


def collapse_repeated_tokens(
    text: Column | str,
) -> Column:
    """Within-document cleaning: collapse CONSECUTIVE duplicate
    whitespace tokens to one ('the the the cat' -> 'the cat') — the
    stutter artifact OCR, scraped templates, and bad decoders produce.
    Pure column expression (zero shuffle, zero Python): an indexed
    filter lambda keeps a token only when it differs from its
    predecessor."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, r"\s+")
    kept = F.filter(toks, lambda t, i: (i == F.lit(0)) | (t != F.element_at(toks, i)))
    return F.array_join(kept, " ")


def dsir_logweights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 10_000,
    prefix: str = "dsir_",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", public): score each raw
    document by how target-like its hashed n-gram profile is,

        log w(x) = sum_i c_i(x) * [log p_t(i) - log p_q(i)]

    over hashed word unigram+bigram buckets, where p_t / p_q are
    add-one-smoothed bucket multinomials of the ``target`` sample and
    the raw corpus itself. High ``{prefix}logweight`` = looks like the
    target distribution; resample the corpus proportionally (compose
    with ``reservoir_sample``/``quota_sample`` on the weight) to build
    a target-matched pretraining mix.

    Numerics (the char_lm_entropy precedent): each log is quantized to
    DECIMAL(20,6) BEFORE the subtraction and the per-doc sum, so
    reduction order cannot move the result and a 1-ulp ln() difference
    between engines is absorbed by the quantum. Documents with no
    features (empty text) get logweight 0.0 and n_features 0.

    Plan (100 TB shape): the corpus explodes to feature grain once and
    collapses immediately to per-doc bucket counts (map-side combine);
    that relation is lazily checkpointed and feeds BOTH the raw model
    (a <= ``buckets``-row aggregate) and the scoring join. The
    log-ratio table is at most ``buckets`` rows — broadcast — so
    scoring is a broadcast join plus one id-grain aggregate. The
    target sample is small by construction (it is a sample); its model
    build is one aggregation. No self-joins, no windows.
    """
    from terra_bonobo_nodes_spark.llm.text import tokens

    def _feats(frame: DataFrame) -> DataFrame:
        toks = tokens(F.col(text_col))
        n = F.size(toks)
        pair_len = F.greatest(n - 1, F.lit(0))
        bigrams = F.zip_with(
            F.slice(toks, 1, pair_len),
            F.slice(toks, 2, pair_len),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        return frame.select(
            F.col(id_col),
            F.explode(F.concat(toks, bigrams)).alias("_f"),
        )

    bucket = lambda c: F.pmod(hash32(c), F.lit(buckets))  # noqa: E731
    fc = (
        _feats(df)
        .select(id_col, bucket(F.col("_f")).alias("_b"))
        .groupBy(id_col, "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    q = fc.groupBy("_b").agg(F.sum("_c").alias("_qc"))
    t = (
        _feats(target)
        .select(bucket(F.col("_f")).alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_tc"))
    )
    model = q.join(t, "_b", "full").select(
        "_b",
        F.coalesce("_qc", F.lit(0)).alias("_qc"),
        F.coalesce("_tc", F.lit(0)).alias("_tc"),
    )
    totals = model.agg(F.sum("_qc").alias("_qt"), F.sum("_tc").alias("_tt"))
    lr = model.crossJoin(F.broadcast(totals)).select(
        "_b",
        (
            F.log(
                (F.col("_tc") + 1).cast("double")
                / (F.col("_tt") + buckets).cast("double")
            ).cast("decimal(20,6)")
            - F.log(
                (F.col("_qc") + 1).cast("double")
                / (F.col("_qt") + buckets).cast("double")
            ).cast("decimal(20,6)")
        ).alias("_lr"),
    )
    scored = fc.join(F.broadcast(lr), "_b").groupBy(id_col).agg(
        F.sum("_c").alias("_m"),
        F.sum(F.col("_lr") * F.col("_c")).alias("_lw"),
    )
    return df.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce("_m", F.lit(0)).cast("long").alias(f"{prefix}n_features"),
        F.coalesce(F.col("_lw").cast("double"), F.lit(0.0)).alias(
            f"{prefix}logweight"
        ),
    )


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    text_col: str = "text",
    seed: str = "tbns-budget-v1",
    default_budget: int | None = None,
) -> DataFrame:
    """Token-budgeted data mixing — the 'data mixture' step of a
    training pipeline, where the spec is TOKENS per domain ('30B web,
    5B code'), not document counts (:func:`source_quota_sample` is the
    count-capped sibling): per source, take documents in seeded-hash
    order until the source's token budget is filled. A document is
    kept iff the tokens accumulated BEFORE it are still under the
    budget — greedy fill, so the crossing document is kept (every
    positive budget yields at least one document from a non-empty
    source) and the overshoot is bounded by one document.

    ``budgets`` maps source values to token budgets; sources absent
    from the map get ``default_budget`` (``None`` = dropped —
    unbudgeted domains don't leak into the mix). Token counts come
    from integer ``tokens_col`` if given (use your tokenizer's
    counts), else a whitespace count over normalize() — exact integers
    either way, so kept sets replay exactly cross-engine.

    Deterministic and append-stable in the prefix sense (the
    :func:`source_quota_sample` contract): a document's hash position
    never improves when new documents arrive, so arrivals can only
    push the boundary document out, never reshuffle the kept set.

    Plan: ONE window shuffle on the source key — a RUNNING sum
    (rows-between unbounded-preceding and -1), so nothing buffers past
    the frame; no join (the budget map is a literal CASE), no collect.
    At 100 TB the hazard is a mega-source serializing its running sum
    in one task; unlike the count-capped sibling there is no salting
    remedy (a prefix sum is order-global per key) — pre-aggregate
    per-document token counts upstream (cheap projection) and split
    pathological sources into explicit sub-sources if one domain
    dominates the corpus.
    """
    from terra_bonobo_nodes_spark.llm.hashing import normalize

    if tokens_col is not None:
        n_tok = F.coalesce(F.col(tokens_col).cast("long"), F.lit(0))
    else:
        # NULL text counts as 0 tokens (coalesce — size(NULL) is NULL),
        # so NULL-text docs neither consume budget nor emit NULL counts
        n_tok = F.size(
            F.filter(
                F.split(normalize(F.coalesce(F.col(text_col), F.lit(""))), " "),
                lambda w: F.length(w) > 0,
            )
        ).cast("long")
    budget = F.lit(None).cast("long")
    for k, v in sorted(budgets.items()):
        budget = F.when(F.col(source_col) == k, F.lit(int(v))).otherwise(budget)
    if default_budget is not None:
        budget = F.coalesce(budget, F.lit(int(default_budget)))
    u = row_hash(id_col, seed)
    # materialize the token count ONCE below the window — feeding the
    # tokenization expression to both the projection and the window sum
    # would normalize+tokenize every document twice in the same stage
    out = df.withColumn("_ntok", n_tok)
    w = (
        Window.partitionBy(source_col)
        .orderBy(u.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = out.withColumns(
        {
            "_budget": budget,
            "_before": F.coalesce(F.sum("_ntok").over(w), F.lit(0)),
        }
    )
    return (
        out.where(F.col("_budget").isNotNull() & (F.col("_before") < F.col("_budget")))
        .drop("_budget", "_before")
        .withColumnRenamed("_ntok", "n_tokens")
    )


def stride_interleave(
    df: DataFrame,
    weights: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "tbns-stride-v1",
    stride_one: int = 1 << 20,
) -> DataFrame:
    """Deterministic proportional-share WRITE ORDER for a heterogeneous
    training mixture — the step after the samplers pick WHICH documents:
    a training reader consuming the output in key order sees sources
    interleaved at their weight ratios from the first batch, instead of
    a megabatch of one domain followed by a megabatch of the next
    (which turns mixture ratios into a curriculum nobody asked for).

    Stride scheduling (Waldspurger & Weihl 1995, public): each source
    ``s`` with weight ``w_s`` emits its ``j``-th document (0-based,
    seeded-hash order within the source) at virtual time
    ``(2j + 1) * stride_one div (2 * w_s)`` — the exact integer
    midpoint rule, so a weight-3 source lands 3 documents in every
    weight-1 source's gap, deterministically. Emits the input columns
    plus ``src_rank`` (j) and ``interleave_key``; CONSUMERS SORT BY
    ``(interleave_key, source, src_rank)`` — the two tie-break columns
    make the total order unambiguous where floor division collides.

    Sources absent from ``weights`` are DROPPED (the token_budget
    contract: unlisted domains don't leak into the mix); weights must
    be positive integers.

    100 TB shape: ONE window shuffle on the source key for ``j`` (the
    samplers' shape), the key itself pure integer arithmetic in
    codegen. No global window: the total order is realized by the
    writer's ``repartitionByRange(interleave_key, ...)`` +
    ``sortWithinPartitions``, which samples range bounds instead of
    single-tasking a global row_number. Prefix-deviation bound: in any
    key-prefix, each source's share deviates from ``w_s / W`` by at
    most one document per source (the stride invariant), so even the
    first training batch is on-mixture."""
    if not weights:
        raise ValueError("stride_interleave needs a non-empty weight map")
    for s, w in weights.items():
        if int(w) < 1:
            raise ValueError(f"weight for {s!r} must be a positive integer")
        if 2 * int(w) > stride_one:
            raise ValueError(f"weight for {s!r} exceeds stride_one/2")
    wexpr = F.lit(None).cast("long")
    for s, w in sorted(weights.items()):
        wexpr = F.when(F.col(source_col) == s, F.lit(int(w))).otherwise(wexpr)
    u = row_hash(id_col, seed)
    w_rank = Window.partitionBy(source_col).orderBy(
        u.asc(), F.col(id_col).asc()
    )
    out = (
        df.withColumn("_w", wexpr)
        .where(F.col("_w").isNotNull())
        .withColumn("src_rank", F.row_number().over(w_rank) - F.lit(1))
    )
    return out.withColumn(
        "interleave_key", _interleave_key_expr(int(stride_one))
    ).drop("_w")


def _interleave_key_expr(stride_one: int) -> Column:
    """``(2*src_rank + 1) * stride_one div (2*_w)`` with src_rank
    widened BEFORE the *2: row_number yields INT, so the unwidened
    numerator wraps past ~2^30 documents per source and diverges from
    the SQL mirror (which ranks in BIGINT) — ADVICE r15. Kept as a
    named helper so the overflow regression test can evaluate the
    exact production expression against an injected large rank."""
    return F.expr(
        "(2 * CAST(src_rank AS BIGINT) + 1)"
        f" * CAST({int(stride_one)} AS BIGINT) div (2 * _w)"
    )


def stride_interleave_sql(
    src_sql: str,
    weights: dict[str, int],
    source_expr: str = "source",
    id_expr: str = "doc_id",
    seed: str = "tbns-stride-v1",
    stride_one: int = 1 << 20,
) -> str:
    """DuckDB replay of :func:`stride_interleave` (same columns)."""
    cases = " ".join(
        f"WHEN {source_expr} = '{s}' THEN {int(w)}"
        for s, w in sorted(weights.items())
    )
    u = row_hash_sql(id_expr, seed)
    return f"""
WITH _si_src AS ({src_sql}),
_si_w AS (
  SELECT *, CASE {cases} END AS _w FROM _si_src
  WHERE CASE {cases} END IS NOT NULL
),
_si_rk AS (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY {source_expr}
           ORDER BY {u} ASC, {id_expr} ASC) - 1 AS BIGINT) AS src_rank
  FROM _si_w
)
SELECT * EXCLUDE (_w),
       CAST((2 * src_rank + 1) * {int(stride_one)}::HUGEINT // (2 * _w)
            AS BIGINT) AS interleave_key
FROM _si_rk
"""


def packing_efficiency(
    df: DataFrame,
    budget: int = 2048,
    n_shards: int = 32,
    source_col: str = "source",
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
) -> DataFrame:
    """The padding-waste ledger that justifies sequence packing: per
    source, how many ``budget``-token training sequences the corpus
    costs (a) NAIVE — each document alone, padded to the budget
    boundary — versus (b) PACKED — documents concatenated into
    :func:`chunk_assignments`' per-shard streams and cut every
    ``budget`` tokens. Emits exact integers: doc/token counts, both
    sequence counts, and each layout's wasted-token share in ppm
    ((seqs * budget - total) * 1e6 div (seqs * budget)). Typical web
    corpora waste 30-60% of naive sequences on padding; packed waste
    is bounded by one partial sequence per (source, shard).

    Plan: one projection for the shard key (the chunk_assignments
    hash), then ONE combinable groupBy (source, shard) and one on
    source — no window at all: the naive ceil is per-row arithmetic
    inside the partial aggregate, and the packed ceil needs only each
    shard-stream's token TOTAL, not its running sum."""
    if budget < 1:
        raise ValueError("budget must be >= 1")
    ntok = F.coalesce(F.col(n_tokens_col).cast("long"), F.lit(0))
    rows = df.select(
        F.col(source_col).alias("source"),
        shard_key(id_col, n_shards).alias("_shard"),
        ntok.alias("_ntok"),
        F.expr(
            f"(coalesce(CAST({n_tokens_col} AS BIGINT), 0) + {int(budget) - 1})"
            f" div {int(budget)}"
        ).alias("_naive_seqs"),
    )
    per_shard = rows.groupBy("source", "_shard").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_ntok").alias("_tok"),
        F.sum("_naive_seqs").alias("_naive"),
    )
    agg = per_shard.groupBy("source").agg(
        F.sum("_n").cast("long").alias("n_docs"),
        F.sum("_tok").cast("long").alias("total_tokens"),
        F.sum("_naive").cast("long").alias("naive_seqs"),
        F.sum(
            F.expr(f"(_tok + {int(budget) - 1}) div {int(budget)}")
        )
        .cast("long")
        .alias("packed_seqs"),
    )
    def waste(seqs):
        return (
            F.when(
                F.col(seqs) > 0,
                F.expr(
                    f"(({seqs} * {int(budget)} - total_tokens) * 1000000)"
                    f" div ({seqs} * {int(budget)})"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        "naive_seqs",
        "packed_seqs",
        waste("naive_seqs").alias("naive_waste_ppm"),
        waste("packed_seqs").alias("packed_waste_ppm"),
    )


def packing_efficiency_sql(
    src_sql: str,
    budget: int = 2048,
    n_shards: int = 32,
    source_expr: str = "source",
    id_expr: str = "doc_id",
    n_tokens_expr: str = "n_tokens",
) -> str:
    """DuckDB replay of :func:`packing_efficiency`."""
    b = int(budget)
    return f"""
WITH _pe_rows AS (
  SELECT {source_expr} AS source,
         {shard_key_sql(id_expr, int(n_shards))} AS shard,
         coalesce(CAST({n_tokens_expr} AS BIGINT), 0) AS ntok,
         (coalesce(CAST({n_tokens_expr} AS BIGINT), 0) + {b - 1}) // {b}
           AS naive_seqs
  FROM ({src_sql})
),
_pe_shard AS (
  SELECT source, shard, count(*) AS n, sum(ntok) AS tok,
         sum(naive_seqs) AS naive
  FROM _pe_rows GROUP BY 1, 2
),
_pe AS (
  SELECT source,
         CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(sum(tok) AS BIGINT) AS total_tokens,
         CAST(sum(naive) AS BIGINT) AS naive_seqs,
         CAST(sum((tok + {b - 1}) // {b}) AS BIGINT) AS packed_seqs
  FROM _pe_shard GROUP BY 1
)
SELECT source, n_docs, total_tokens, naive_seqs, packed_seqs,
       CAST(CASE WHEN naive_seqs > 0
            THEN ((naive_seqs * {b} - total_tokens) * 1000000)
                 // (naive_seqs * {b}) ELSE 0 END AS BIGINT)
         AS naive_waste_ppm,
       CAST(CASE WHEN packed_seqs > 0
            THEN ((packed_seqs * {b} - total_tokens) * 1000000)
                 // (packed_seqs * {b}) ELSE 0 END AS BIGINT)
         AS packed_waste_ppm
FROM _pe
"""

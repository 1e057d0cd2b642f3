"""Correctness queries: LLM training-data pipeline operators.

Dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard / embedding
cosine), similarity search (brute-force + LSH ANN), text analysis, and
multimodal plumbing — over the driver's ``documents`` and
``embeddings`` tables.

Every oracle here is *generated from the same constants* as the Spark
plan (hashing.perm_params, similarity.hyperplanes), so MinHash
signatures, LSH buckets and cosines are bit-identical across engines —
these are strong full-value checks, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm import (
    dedup,
    hashing,
    lm,
    multimodal,
    scrub,
    similarity,
    text,
)
from terra_bonobo_nodes_spark.plans.registry import register
from terra_bonobo_nodes_spark.tables import load_table, spread_small_scan

# --- shared SQL fragments ---------------------------------------------------

# tokens() mirror: split on non-alphanumerics, drop empties.
TOKS_SQL = (
    "list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), "
    "x -> length(x) > 0)"
)
EMB_DIM = 64


# --- text analysis ----------------------------------------------------------


@register(
    "llm_text_counts_surface",
    oracle=f"""
SELECT doc_id, lang,
       CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '{text.BPE_SPLIT_RE_SQL}')) AS BIGINT)
         AS n_bpe_tokens
FROM documents
""",
    tags=("llm", "text"),
)
def llm_text_counts_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish pretokens side by side — the
    sequence-length estimates a training pipeline budgets by. Round-12
    merge of llm_token_count + llm_bpe_token_count (fn_scalar_surface
    precedent: the bpe row already carried n_tokens, so the two rows
    shared a grain and column expressions; one wide doc-grain
    projection keeps identical per-function coverage and frees a
    rotation slot for e4_osm_points_roundtrip)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = text.bpe_token_count(docs, "text")
    return text.token_count(out, "text").select(
        "doc_id", "lang", "n_tokens", "n_bpe_tokens"
    )


_PUNCT_SQL = "'[.,;:!?''\"()\\[\\]{}-]'"
_STOP_EN = ", ".join(f"'{w}'" for w in text.LANG_PROFILES["en"])


@register(
    "llm_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, {TOKS_SQL} AS toks,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha
  FROM documents
), m AS (
  SELECT doc_id, n_chars, n_alpha,
         CAST(len(toks) AS DOUBLE) AS n_tokens,
         n_chars - CAST(length(regexp_replace(text, {_PUNCT_SQL}, '', 'g')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter(toks, t -> t IN ({_STOP_EN}))) AS DOUBLE) AS stop_hits
  FROM t
), r AS (
  SELECT doc_id, n_chars, n_tokens,
         CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS q_alpha_ratio,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS q_punct_ratio,
         CASE WHEN n_tokens > 0 THEN stop_hits / n_tokens ELSE 0.0 END AS q_stop_ratio,
         CASE WHEN n_tokens > 0 THEN n_alpha / n_tokens ELSE 0.0 END AS q_mean_word_len
  FROM m
)
SELECT doc_id, n_chars AS q_n_chars, n_tokens AS q_n_tokens,
       q_alpha_ratio, q_punct_ratio, q_stop_ratio, q_mean_word_len,
       least(n_tokens / 100.0, 1.0) * 0.25 + q_alpha_ratio * 0.25
         + q_stop_ratio * 0.25
         + (1.0 - least(q_punct_ratio * 5.0, 1.0)) * 0.25 AS q_score
FROM r
""",
    tags=("llm", "text"),
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.quality_score(docs, "text").select(
        "doc_id",
        "q_n_chars",
        "q_n_tokens",
        "q_alpha_ratio",
        "q_punct_ratio",
        "q_stop_ratio",
        "q_mean_word_len",
        "q_score",
    )


def _repetition_sentences_oracle() -> str:
    from terra_bonobo_nodes_spark.llm.sentences import sentence_stats_sql

    # each leg's oracle text verbatim as a subquery; the sentence leg
    # is the absorbed llm_sentence_stats candidate's oracle unchanged
    rep = f"""
WITH t AS (
  SELECT doc_id, {TOKS_SQL} AS toks FROM documents
), b AS (
  SELECT doc_id, toks, len(toks) AS n,
         list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
  FROM t
)
SELECT doc_id,
       round(CASE WHEN n > 0
                  THEN 1.0 - len(list_distinct(toks)) / n
                  ELSE 0.0 END, 6) AS rep_word_dup_ratio,
       round(CASE WHEN n > 1
                  THEN 1.0 - len(list_distinct(bigrams)) / (n - 1)
                  ELSE 0.0 END, 6) AS rep_bigram_dup_ratio
FROM b
"""
    sent = f"SELECT doc_id, {sentence_stats_sql('text')} FROM documents"
    return f"""
SELECT r.doc_id, r.rep_word_dup_ratio, r.rep_bigram_dup_ratio,
       s.sent_n, s.sent_n_terminated, s.sent_mean_words, s.sent_frac_short
FROM ({rep}) r JOIN ({sent}) s USING (doc_id)
"""


@register(
    "llm_repetition_ratios",
    oracle=_repetition_sentences_oracle(),
    tags=("llm", "text", "sentences"),
)
def llm_repetition_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition filter signals over the documents table
    (word-dup and bigram-dup fractions). The DuckDB oracle builds the
    same bigram list with 1-based list indexing (range(1, n) is
    end-exclusive, so both sides emit exactly n-1 bigrams and [] for
    n <= 1). WIDENED late r17 — the row was due — with the absorbed
    llm_sentence_stats candidate (llm/sentences.py: RE2-safe
    segmentation, terminated-sentence count, mean words/sentence,
    short-fragment fraction): both ops are pure column projections
    that preserve their input, so the widened row CHAINS them on one
    documents scan — zero joins, zero shuffles, one codegen stage."""
    from terra_bonobo_nodes_spark.llm.sentences import sentence_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rep = sentence_stats(text.repetition_ratios(docs, "text"))
    return rep.select(
        "doc_id",
        F.round("rep_word_dup_ratio", 6).alias("rep_word_dup_ratio"),
        F.round("rep_bigram_dup_ratio", 6).alias("rep_bigram_dup_ratio"),
        "sent_n",
        "sent_n_terminated",
        "sent_mean_words",
        "sent_frac_short",
    )


def _lang_id_oracle() -> str:
    hits = {
        code: f"len(list_filter(toks, t -> t IN "
        f"({', '.join(repr(w) for w in words)})))"
        for code, words in sorted(text.LANG_PROFILES.items())
    }
    hit_cols = ", ".join(f"{e} AS h_{c}" for c, e in hits.items())
    best = "greatest(" + ", ".join(f"h_{c}" for c in hits) + ")"
    # tie-break = first match in ascending code order, like the Spark fold
    cases = " ".join(f"WHEN h_{c} = {best} THEN '{c}'" for c in sorted(hits))
    return f"""
WITH t AS (SELECT doc_id, lang, {TOKS_SQL} AS toks FROM documents),
h AS (SELECT doc_id, lang, {hit_cols} FROM t)
SELECT doc_id, lang,
       CASE WHEN {best} <= 0 THEN 'und' {cases} END AS lang_pred
FROM h
"""


@register("llm_lang_id", oracle=_lang_id_oracle(), tags=("llm", "text"))
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return text.lang_id(docs, "text").select("doc_id", "lang", "lang_pred")


@register(
    "llm_exact_dedup_groups",
    oracle=f"""
SELECT md5({hashing.normalize_sql('text')}) AS fingerprint,
       count(*) AS n_docs, min(doc_id) AS keep_id
FROM documents GROUP BY 1
""",
    tags=("llm", "dedup"),
)
def llm_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.exact_dup_groups(docs, "text", "doc_id")


# --- MinHash + LSH ----------------------------------------------------------

_MH_K, _MH_BANDS, _MH_SHINGLE = 16, 4, 5
_MH_ROWS = _MH_K // _MH_BANDS


def _minhash_cte(prefix: str = "mh_") -> str:
    """The minhash signature -> banded-LSH pair chain as prefixed CTEs
    ending in ``{prefix}pairs(id_a, id_b, est_jaccard)``."""
    shingles = hashing.char_shingles_sql("text", _MH_SHINGLE)
    params = hashing.perm_params(_MH_K)
    mins = ", ".join(
        f"min((h * {a} + {b}) % {hashing.MINHASH_P})" for a, b in params
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, sig, {b} AS band, "
        f"{hashing.band_hash_sql('sig', b, _MH_ROWS)} AS bh FROM {prefix}sigs"
        for b in range(_MH_BANDS)
    )
    est = (
        f"CAST(len(list_filter(list_zip(sig_a, sig_b), x -> x[1] = x[2])) "
        f"AS DOUBLE) / {float(_MH_K)}"
    )
    return f"""
{prefix}posting AS (
  SELECT doc_id, unnest({shingles}) AS sh FROM documents
),
{prefix}hashed AS (SELECT doc_id, {hashing.hash32_sql('sh')} AS h
           FROM {prefix}posting),
{prefix}sigs AS (SELECT doc_id, [{mins}] AS sig FROM {prefix}hashed
                 GROUP BY doc_id),
{prefix}banded AS ({band_rows}),
{prefix}cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM {prefix}banded a JOIN {prefix}banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
{prefix}pairs AS (
  SELECT id_a, id_b, {est} AS est_jaccard
  FROM {prefix}cand WHERE {est} >= 0.5
)"""


# --- SimHash ----------------------------------------------------------------

_SH_BITS, _SH_MAXHAM = 32, 7
_SH_BLOCKS = 8
_SH_BLOCK_BITS = _SH_BITS // _SH_BLOCKS


def _simhash_cte(prefix: str = "sh_") -> str:
    """The simhash -> value-grain pigeonhole pair chain as prefixed
    CTEs ending in ``{prefix}pairs(id_a, id_b, hamming)``.

    VALUE-GRAIN since round 14 (dedup.simhash_pairs now delegates to
    the shared phash.hamming_pairs kernel): identical simhashes
    collapse to a min-id representative emitting (rep, member, 0)
    rows, and only DISTINCT simhash values enter the banded join —
    the dedup-sufficient generator-set contract, mirrored here."""
    toks = f"str_split({hashing.normalize_sql('text')}, ' ')"
    sums = ", ".join(f"sum((h >> {b}) & 1) AS c{b}" for b in range(_SH_BITS))
    sh = " + ".join(
        f"(CASE WHEN c{b} * 2 >= n THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(_SH_BITS)
    )
    mask = (1 << _SH_BLOCK_BITS) - 1
    blocks = "\nUNION ALL\n".join(
        f"SELECT rep, sh, {i} AS blk, (sh >> {i * _SH_BLOCK_BITS}) & {mask} AS bv "
        f"FROM {prefix}grp"
        for i in range(_SH_BLOCKS)
    )
    return f"""
{prefix}posting AS (SELECT doc_id, unnest({toks}) AS tok FROM documents),
{prefix}hashed AS (SELECT doc_id, {hashing.hash32_sql('tok')} AS h
                   FROM {prefix}posting),
{prefix}agg AS (SELECT doc_id, count(*) AS n, {sums} FROM {prefix}hashed
                GROUP BY doc_id),
{prefix}sims AS (SELECT doc_id, ({sh}) AS sh FROM {prefix}agg),
{prefix}grp AS (SELECT sh, min(doc_id) AS rep FROM {prefix}sims GROUP BY sh),
{prefix}exact AS (
  SELECT g.rep AS id_a, s.doc_id AS id_b, CAST(0 AS INT) AS hamming
  FROM {prefix}sims s JOIN {prefix}grp g USING (sh) WHERE s.doc_id <> g.rep),
{prefix}blocked AS ({blocks}),
{prefix}near AS (
  SELECT DISTINCT a.rep AS id_a, b.rep AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM {prefix}blocked a JOIN {prefix}blocked b
    ON a.blk = b.blk AND a.bv = b.bv AND a.rep < b.rep
),
{prefix}pairs AS (
  SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
  FROM {prefix}near WHERE bit_count(xor(sh_a, sh_b)) <= {_SH_MAXHAM}
  UNION ALL
  SELECT id_a, id_b, hamming FROM {prefix}exact
)"""


# llm_minhash_lsh_pairs + llm_simhash_pairs MERGED round 14 into ONE
# pair-grain row (the j1 broadcast+grid / llm_cosine_topk exact+rerank
# precedent): both hash-fingerprint near-dup generators run against
# the same corpus and FULL-OUTER-join on the pair key, so every pair
# carries which detector(s) proposed it (NULL est_jaccard = simhash-
# only, NULL hamming = minhash-only). Identical per-function coverage
# in one slot; the simhash side verifies the round-14 delegation to
# the shared value-grain pigeonhole kernel (phash.hamming_pairs).
@register(
    "llm_hash_neardup_pairs",
    oracle=f"""
WITH {_minhash_cte()},
{_simhash_cte()}
SELECT coalesce(m.id_a, s.id_a) AS id_a,
       coalesce(m.id_b, s.id_b) AS id_b,
       m.est_jaccard AS est_jaccard,
       s.hamming AS hamming
FROM mh_pairs m FULL JOIN sh_pairs s
  ON m.id_a = s.id_a AND m.id_b = s.id_b
""",
    headline=True,
    tags=("llm", "dedup"),
)
def llm_hash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the unsplittable single-row-group scan before the two
    # explode+md5 signature chains — the leaf stages are otherwise ONE
    # task each (r17: 8.9s -> ~5.4s bench; tables.spread_small_scan
    # no-ops on any input already split across the cluster)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    mh = dedup.minhash_lsh_pairs(
        docs,
        "text",
        "doc_id",
        n_hashes=_MH_K,
        bands=_MH_BANDS,
        shingle_n=_MH_SHINGLE,
        min_est_jaccard=0.5,
    )
    sh = dedup.simhash_pairs(
        docs, "text", "doc_id", bits=_SH_BITS, max_hamming=_SH_MAXHAM
    ).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )
    return mh.join(sh, ["id_a", "id_b"], "full")


# --- n-gram Jaccard ---------------------------------------------------------

_NJ_N, _NJ_MIN = 2, 0.05


def _ngram_jaccard_oracle() -> str:
    shingles = hashing.word_shingles_sql("text", _NJ_N)
    return f"""
WITH posting AS (
  SELECT doc_id, unnest(list_distinct({shingles})) AS shingle FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM posting GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM posting a JOIN posting b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) >= {_NJ_MIN}
"""


@register(
    "llm_ngram_jaccard_pairs", oracle=_ngram_jaccard_oracle(), tags=("llm", "dedup")
)
def llm_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_n=_NJ_N, word_grams=True, min_jaccard=_NJ_MIN
    )


# --- embedding near-dup + similarity search ---------------------------------

_COS_THRESHOLD = 0.35
_CAST_EMB = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


_BLK_PLANES = 4


def _sig_sql(n_planes: int, vec: str = "v") -> str:
    """DuckDB mirror of ``similarity.hyperplane_signature`` over table-0
    hyperplanes: per-plane sign bit of the deterministic left-fold dot,
    packed into a BIGINT — identical doubles on both engines."""
    planes = similarity.hyperplanes(n_planes, EMB_DIM)
    sig_terms = []
    for p, plane in enumerate(planes):
        lits = "[" + ", ".join(f"CAST({w!r} AS DOUBLE)" for w in plane) + "]"
        d = similarity.dot_exact_sql(vec, lits)
        sig_terms.append(
            f"(CASE WHEN {d} >= 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        )
    return "(" + " + ".join(sig_terms) + ")"


def _cosine_pairs_oracle() -> str:
    sig = _sig_sql(_BLK_PLANES)
    return f"""
WITH e AS (SELECT vec_id, {_CAST_EMB} AS v FROM embeddings),
sigs AS (SELECT vec_id, v, {similarity.norm_sql('v')} AS nrm,
                {sig} AS blk FROM e)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {similarity.dot_exact_sql('a.v', 'b.v')} / (a.nrm * b.nrm) AS cos_sim,
       a.blk = b.blk AS in_lsh_block
FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id
WHERE {similarity.dot_exact_sql('a.v', 'b.v')} / (a.nrm * b.nrm) >= {_COS_THRESHOLD}
"""


@register(
    "llm_embedding_cosine_pairs",
    oracle=_cosine_pairs_oracle(),
    tags=("llm", "dedup", "embedding"),
)
def llm_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 merge of the exact and LSH-blocked pair rows (same pair
    grain, shared scoring math): every exact pair (the documented
    tiny-input all-pairs reference form) carries ``in_lsh_block`` — did
    the 100 TB path's hyperplane-signature equi-join surface it too?
    The Spark side RUNS both code paths (crossJoin form + block_col
    equi-join form, left-joined), so blocking, scoring, and the
    blocked join's recall picture are all driver-checked in one row;
    the oracle derives the flag as signature equality, which is what
    block-key collision means."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    exact = dedup.embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=_COS_THRESHOLD
    )
    planes = similarity.hyperplanes(_BLK_PLANES, EMB_DIM)
    blocked = dedup.embedding_cosine_pairs(
        emb.withColumn(
            "blk", similarity.hyperplane_signature("embedding", planes)
        ),
        "vec_id",
        "embedding",
        threshold=_COS_THRESHOLD,
        block_col="blk",
    ).select("id_a", "id_b", F.lit(True).alias("in_lsh_block"))
    return exact.join(blocked, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "cos_sim",
        F.coalesce("in_lsh_block", F.lit(False)).alias("in_lsh_block"),
    )


_TOPK_K, _TOPK_NQ = 5, 10
_RR_CK = 40  # coarse candidates kept per query by the int8 first stage
_INT_DOT = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(list_zip({a}, {b}), x -> x[1] * x[2])), "
    "(acc, x) -> acc + x)"
)


def _exact_topk_oracle_body() -> str:
    return f"""
WITH e AS (SELECT vec_id, {_CAST_EMB} AS v FROM embeddings),
n AS (SELECT vec_id, v, {similarity.norm_sql('v')} AS nrm FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
      WHERE vec_id < {_TOPK_NQ}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {similarity.dot_exact_sql('q.qv', 'c.v')} / (q.qn * c.nrm) AS cos_sim
  FROM n c CROSS JOIN q WHERE c.vec_id != q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_TOPK_K}
"""


def _rerank_topk_oracle_body() -> str:
    return f"""
WITH e AS (SELECT vec_id, {_CAST_EMB} AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         CASE WHEN list_aggregate(list_transform(v, x -> abs(x)), 'max') > 0.0
              THEN 127.0 / list_aggregate(list_transform(v, x -> abs(x)), 'max')
              ELSE 0.0 END AS scale
  FROM e),
z AS (SELECT vec_id, v,
             list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv
      FROM s),
q AS (SELECT vec_id AS query_id, v AS qfv, qv AS qqv FROM z
      WHERE vec_id < {_TOPK_NQ}),
coarse AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_INT_DOT.format(a="c.qv", b="q.qqv")} AS coarse_score,
         c.v AS nv, q.qfv AS qv2
  FROM z c CROSS JOIN q WHERE c.vec_id != q.query_id),
cand AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY coarse_score DESC, neighbor_id ASC) AS crank
    FROM coarse) WHERE crank <= {_RR_CK}),
rer AS (
  SELECT query_id, neighbor_id, coarse_score,
         {similarity.dot_exact_sql('qv2', 'nv')}
           / ({similarity.norm_sql('qv2')} * {similarity.norm_sql('nv')}) AS cos_sim
  FROM cand)
SELECT query_id, neighbor_id, coarse_score, cos_sim, CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM rer)
WHERE rank <= {_TOPK_K}
"""


@register(
    "llm_cosine_topk",
    oracle=f"""
WITH ex AS ({_exact_topk_oracle_body()}),
rr AS ({_rerank_topk_oracle_body()})
SELECT ex.query_id, CAST(ex.rank AS INT) AS rank,
       ex.neighbor_id, ex.cos_sim,
       rr.neighbor_id AS rr_neighbor_id,
       rr.coarse_score AS rr_coarse_score,
       rr.cos_sim AS rr_cos_sim
FROM ex JOIN rr ON ex.query_id = rr.query_id AND ex.rank = rr.rank
""",
    headline=True,
    tags=("llm", "similarity"),
)
def llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k AND two-stage quantized retrieval
    (llm/similarity.quantized_rerank_topk: int8 integer-dot coarse cut
    — exact arithmetic, so the candidate set is engine/partitioning-
    independent — then float re-rank of the survivors) on ONE row per
    (query_id, rank): the round-13 merge of the former
    llm_quantized_rerank_topk row (same grain — both stages emit
    exactly k ranks per query — the llm_embedding_cosine_pairs
    precedent). The oracle replays both retrieval paths bit-for-bit
    and joins them on rank, so one hash pins exact-kNN ground truth
    and both rerank stages."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries_df = emb.where(F.col("vec_id") < _TOPK_NQ)
    exact = similarity.brute_force_topk(emb, queries_df, k=_TOPK_K).select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        "cos_sim",
    )
    rr = similarity.quantized_rerank_topk(
        emb, queries_df, k=_TOPK_K, coarse_k=_RR_CK
    ).select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("neighbor_id").alias("rr_neighbor_id"),
        F.col("coarse_score").alias("rr_coarse_score"),
        F.col("cos_sim").alias("rr_cos_sim"),
    )
    # both paths emit exactly k ranks for every query (corpus >> k at
    # every SF), so the combining join is key-equal inner on tiny sides
    return exact.join(rr, ["query_id", "rank"])


_ANN_PLANES = 6


def _ann_oracle() -> str:
    sig = _sig_sql(_ANN_PLANES)
    return f"""
WITH e AS (SELECT vec_id, {_CAST_EMB} AS v FROM embeddings),
sigs AS (SELECT vec_id, v, {similarity.norm_sql('v')} AS nrm,
                {sig} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket FROM sigs
      WHERE vec_id < {_TOPK_NQ}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {similarity.dot_exact_sql('q.qv', 'c.v')} / (q.qn * c.nrm) AS cos_sim
  FROM sigs c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_TOPK_K}
"""


@register("llm_lsh_ann_topk", oracle=_ann_oracle(), tags=("llm", "similarity"))
def llm_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = similarity.lsh_topk(
        emb,
        emb.where(F.col("vec_id") < _TOPK_NQ),
        k=_TOPK_K,
        n_planes=_ANN_PLANES,
        dim=EMB_DIM,
    )
    return out.select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


def _components_oracle() -> str:
    """Transitive closure of the MinHash pair graph via recursive CTE —
    a full-value oracle even though the Spark side is iterative."""
    return f"""
WITH RECURSIVE
{_minhash_cte()},
mh AS (SELECT id_a, id_b FROM mh_pairs),
edges AS (SELECT id_a AS src, id_b AS dst FROM mh UNION SELECT id_b, id_a FROM mh),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS component_id
FROM reach GROUP BY src
"""


@register(
    "llm_dedup_components", oracle=_components_oracle(), tags=("llm", "dedup")
)
def llm_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pairs -> connected components: the canonical-survivor
    assignment of a dedup pipeline. The Spark side iterates min-label
    propagation over the edge list; the oracle rebuilds the same
    components with a recursive-CTE closure."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(
        docs,
        "text",
        "doc_id",
        n_hashes=_MH_K,
        bands=_MH_BANDS,
        shingle_n=_MH_SHINGLE,
        min_est_jaccard=0.5,
    )
    return dedup.connected_components(pairs)


_IVF_CELLS, _IVF_PROBE = 8, 2


def _ivf_oracle() -> str:
    """Full-value IVF oracle through the ``centroids=`` seam (the r12
    semantic-dedup precedent, extended r13): with a LITERAL one-hot
    codebook the assignment UDF's distance is d_k = |c_k|^2 - 2 v.c_k
    = 1.0 - 2.0*v[k] — the SQL below replays that EXACT double
    arithmetic (not the argmax shortcut) and takes argmin / the
    n_probe smallest with the same first-index tie-break as np.argmin
    / stable argsort, so cells and probe lists are bit-identical
    cross-engine; scoring reuses the exact left-fold cosine."""
    return f"""
WITH e AS (SELECT vec_id, {_CAST_EMB} AS v FROM embeddings),
d8 AS (SELECT vec_id, v, {similarity.norm_sql('v')} AS nrm,
              list_transform(v[1:{_IVF_CELLS}], x -> 1.0 - 2.0 * x) AS d
       FROM e),
c AS (SELECT vec_id, v, nrm,
             (list_position(d, list_aggregate(d, 'min')) - 1) AS cell
      FROM d8),
qp AS (SELECT d8.vec_id AS query_id, d8.v AS qv, d8.nrm AS qn,
              (r.i - 1) AS cell,
              row_number() OVER (PARTITION BY d8.vec_id
                                 ORDER BY d[r.i] ASC, r.i ASC) AS pr
       FROM d8, unnest(range(1, {_IVF_CELLS} + 1)) AS r(i)
       WHERE d8.vec_id < {_TOPK_NQ}),
q AS (SELECT query_id, qv, qn, cell FROM qp WHERE pr <= {_IVF_PROBE}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {similarity.dot_exact_sql('q.qv', 'c.v')} / (q.qn * c.nrm) AS cos_sim
  FROM c JOIN q ON c.cell = q.cell AND c.vec_id != q.query_id),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_TOPK_K}
"""


@register("llm_ivf_ann_topk", oracle=_ivf_oracle(), tags=("llm", "similarity"))
def llm_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k, hash-checked since round 13 (was
    rows-only): the ``centroids=`` seam takes a literal one-hot
    codebook so the driver verifies the operator's entire distributed
    body — Arrow-batched cell assignment, n_probe cell explode, the
    cell equi-join, exact cosine scoring, per-query ranking — against
    a full-value DuckDB replay; only iterative k-means training is
    pinned elsewhere (tests/test_llm_ops.py::
    test_ivf_ann_recall_vs_brute_force runs the trained path)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = [
        [1.0 if d == k else 0.0 for d in range(EMB_DIM)]
        for k in range(_IVF_CELLS)
    ]
    return similarity.ivf_topk(
        emb,
        emb.where(F.col("vec_id") < _TOPK_NQ),
        k=_TOPK_K,
        n_probe=_IVF_PROBE,
        centroids=cents,
    )


# --- multimodal plumbing ----------------------------------------------------


# multimodal.fake_feature_vector: feature i = md5(payload || i) on [0, 1)
_FEATURES_SQL = ",\n       ".join(
    hashing.unit32_sql(hashing.hash32_sql(f"text || '{i}'")) + f" AS f{i}"
    for i in range(4)
)


@register(
    "llm_multimodal_decode",
    oracle=f"""
SELECT doc_id AS asset_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       {_FEATURES_SQL}
FROM documents
""",
    tags=("llm", "multimodal"),
)
def llm_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas decode stage (real Arrow plumbing, stub decoder)
    verified against a SQL recomputation of its md5-derived features."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assets = multimodal.documents_as_assets(docs)
    feats = multimodal.decode_features(assets, dim=4)
    return feats.select(
        "asset_id",
        "n_bytes",
        "payload_md5",
        F.element_at("features", 1).alias("f0"),
        F.element_at("features", 2).alias("f1"),
        F.element_at("features", 3).alias("f2"),
        F.element_at("features", 4).alias("f3"),
    )


# --- winnowing fingerprints (MOSS) ------------------------------------------

_WN_K, _WN_WINDOW = 8, 4
# min_shared = p99 of the sf0.01 shared-count distribution (median 5):
# high enough that surviving pairs are real template near-dups, not the
# corpus-wide boilerplate noise floor.
_WN_MIN_SHARED, _WN_MAX_FP_DF = 20, 100


def _winnow_cte() -> str:
    """CTE staging mirror of text.winnow_fingerprints: normalize, k-gram
    polynomial hashes, window minima — same constants, bit-identical
    int64 values (base 31, k=8 keeps hashes < 2^53)."""
    norm = hashing.normalize_sql("text")
    acc = "CAST(ascii(substr(nrm, i, 1)) AS BIGINT)"
    for j in range(1, _WN_K):
        acc = f"(({acc}) * {text.WINNOW_BASE} + ascii(substr(nrm, i + {j}, 1)))"
    grams = (
        f"list_transform(range(1, greatest(length(nrm) - {_WN_K - 1}, 1) + 1), "
        f"i -> {acc})"
    )
    wins = (
        f"list_transform(range(1, greatest(len(grams) - {_WN_WINDOW - 1}, 1) + 1), "
        f"w -> list_aggregate(list_slice(grams, w, w + {_WN_WINDOW - 1}), 'min'))"
    )
    return f"""
WITH nd AS (SELECT doc_id, {norm} AS nrm FROM documents),
gd AS (SELECT doc_id, nrm, {grams} AS grams FROM nd),
fd AS (SELECT doc_id,
              CASE WHEN length(nrm) > 0
                   THEN list_sort(list_distinct({wins}))
                   ELSE CAST([] AS BIGINT[]) END AS fps
       FROM gd)"""


@register(
    "llm_winnow_fingerprints",
    oracle=f"""{_winnow_cte()}
SELECT doc_id,
       CAST(len(fps) AS BIGINT) AS n_fp,
       CAST(coalesce(list_sum(fps), 0) AS BIGINT) AS fp_sum,
       CAST(coalesce(list_aggregate(fps, 'min'), 0) AS BIGINT) AS fp_min,
       CAST(coalesce(list_aggregate(fps, 'max'), 0) AS BIGINT) AS fp_max
FROM fd
""",
    tags=("llm", "text", "dedup"),
)
def llm_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed document fingerprints (Schleimer et al. 2003), reduced
    to per-doc scalars for the order-insensitive hash compare."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fps = text.winnow_fingerprints(docs, "text", "fps", k=_WN_K, window=_WN_WINDOW)
    zero = F.lit(0).cast("long")
    return fps.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fp"),
        F.aggregate("fps", zero, lambda a, x: a + x).alias("fp_sum"),
        F.coalesce(F.array_min("fps"), zero).alias("fp_min"),
        F.coalesce(F.array_max("fps"), zero).alias("fp_max"),
    )


@register(
    "llm_winnow_pairs",
    headline=True,
    oracle=f"""{_winnow_cte()},
inv AS (SELECT doc_id, unnest(fps) AS fp FROM fd),
kept AS (SELECT doc_id, fp FROM inv
         QUALIFY count(*) OVER (PARTITION BY fp) <= {_WN_MAX_FP_DF})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {_WN_MIN_SHARED}
""",
    tags=("llm", "dedup"),
)
def llm_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match step: pairs sharing >= {min_shared} winnowed
    fingerprints, hot fingerprints (df > cap) dropped for skew."""
    # NOT spread (guide §2.5 measured both ways r17): repartitioning
    # the full text payload costs more than the saved single-core
    # fingerprint work — the chain reaches its own exchange quickly
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.winnow_pairs(
        docs,
        "doc_id",
        "text",
        k=_WN_K,
        window=_WN_WINDOW,
        min_shared=_WN_MIN_SHARED,
        max_fp_df=_WN_MAX_FP_DF,
    )


# --- TF-IDF top terms + deterministic split ---------------------------------

_TFIDF_K = 5


@register(
    "llm_tfidf_topk_terms",
    headline=True,
    oracle=f"""
WITH toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM toks GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.dfc,
             tf.tf * ((n.n + 1.0) / (dfq.dfc + 1.0)) AS score
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank
      FROM s)
SELECT doc_id, term, tf, dfc, round(score, 6) AS score, rank
FROM r WHERE rank <= {_TFIDF_K}
""",
    tags=("llm", "text"),
)
def llm_tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document. The oracle-checked form
    uses the rational idf (no transcendental) so scores are IEEE-exact
    across engines; the log-idf variant is pytest-covered."""
    # NOT spread (measured both ways r17): the token explode reaches
    # its groupBy exchange immediately — shuffling the text first lost
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = text.tfidf_topk_terms(docs, "doc_id", "text", k=_TFIDF_K, idf="raw")
    return out.withColumn("score", F.round("score", 6))


_SPLIT_SEED = "tbns-split-v1"


@register(
    "llm_hash_split_counts",
    oracle=f"""
WITH u AS (
  SELECT doc_id,
         {hashing.unit32_sql(hashing.row_hash_sql("doc_id", _SPLIT_SEED))} AS u
  FROM documents
),
s AS (SELECT doc_id,
             CASE WHEN u < 0.05 THEN 'test'
                  WHEN u < 0.95 THEN 'train'
                  ELSE 'val' END AS split
      FROM u)
SELECT split, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM s GROUP BY 1
""",
    tags=("llm", "pipeline"),
)
def llm_hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split (seeded md5 u32 -> cumulative weight
    thresholds): per-split doc count and id checksum. The CASE
    thresholds in the oracle mirror hash_split's sorted-weights
    cumulative order (test 0.05, train 0.90, val 0.05)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    split = text.hash_split(docs, "doc_id", seed=_SPLIT_SEED)
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_ids"),
    )


# --- corpus assembly: pack-and-chunk + stratified mixing --------------------

_PACK_BUDGET, _PACK_SHARDS = 256, 8
_MIX_RATES = {"en": 0.8, "fr": 0.5, "de": 0.25, "es": 0.1}  # zh -> default 0


@register(
    "llm_chunk_assignments",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens,
         {hashing.shard_key_sql("doc_id", _PACK_SHARDS)} AS shard
  FROM documents
),
s AS (
  SELECT *,
         CAST(coalesce(sum(n_tokens) OVER (
                PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM t
)
SELECT doc_id, shard, n_tokens, start_offset,
       CAST(floor(start_offset / {_PACK_BUDGET}) AS BIGINT) AS first_chunk,
       CAST(floor((start_offset + greatest(n_tokens - 1, 0)) / {_PACK_BUDGET}) AS BIGINT)
         AS last_chunk
FROM s
""",
    tags=("llm", "pipeline"),
)
def llm_chunk_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-and-chunk layout (concatenate per shard, cut every 256
    tokens): per-doc stream offsets and chunk spans, oracle-mirrored
    with the same window arithmetic."""
    from terra_bonobo_nodes_spark.llm import corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toked = text.token_count(docs, "text").select("doc_id", "n_tokens")
    return corpus.chunk_assignments(
        toked, "doc_id", "n_tokens", budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    )


def _mix_rate_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(_MIX_RATES.items())
    )
    return f"CASE {cases} ELSE 0.0 END"


@register(
    "llm_stratified_sample_counts",
    oracle=f"""
WITH u AS (
  SELECT doc_id, lang,
         {hashing.unit32_sql(hashing.row_hash_sql("doc_id", "tbns-sample-v1"))} AS u
  FROM documents
)
SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM u
WHERE u < {_mix_rate_sql()}
GROUP BY 1
""",
    tags=("llm", "pipeline"),
)
def llm_stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus mixing (hash-deterministic downsampling):
    kept-count and id checksum per stratum. zh has no configured rate
    and falls to the 0.0 default — the oracle's CASE mirrors that."""
    from terra_bonobo_nodes_spark.llm import corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    kept = corpus.stratified_sample(docs, "lang", _MIX_RATES, "doc_id")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_ids"),
    )


# --- int8 embedding quantization --------------------------------------------


@register(
    "llm_embedding_quantize",
    oracle=f"""
WITH e AS (SELECT vec_id, {_CAST_EMB} AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         CASE WHEN list_aggregate(list_transform(v, x -> abs(x)), 'max') > 0.0
              THEN 127.0 / list_aggregate(list_transform(v, x -> abs(x)), 'max')
              ELSE 0.0 END AS scale
  FROM e
),
q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv
  FROM s
)
SELECT vec_id,
       round(scale, 6) AS scale,
       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS sum_q,
       CAST(list_aggregate(qv, 'max') AS BIGINT) AS max_q,
       CAST(floor(list_aggregate(
         list_transform(range(1, len(v) + 1),
                        i -> abs(v[i] - CASE WHEN scale > 0.0
                                             THEN qv[i] / scale
                                             ELSE 0.0 END)),
         'max') * 1e9) AS BIGINT) AS max_err_ns
FROM q
""",
    tags=("llm", "embedding"),
)
def llm_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization summary: scale, code checksums, and
    the max dequantization error (must stay <= 0.5/scale). The oracle
    recomputes the identical floor(x*scale + 0.5) closed form."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qdf = similarity.quantize_embeddings(emb, "embedding", "q", "scale")
    dq = F.zip_with(
        F.col("embedding"),
        F.col("q"),
        lambda x, qi: F.abs(
            x.cast("double")
            - F.when(F.col("scale") > 0.0, qi.cast("double") / F.col("scale")).otherwise(
                F.lit(0.0)
            )
        ),
    )
    # max_err is computed BEFORE the select that re-aliases "scale":
    # a rounded alias named "scale" in the same select list would win
    # lateral-column-alias resolution inside the zip_with lambda and
    # silently divide by the ROUNDED scale (1-ulp hash mismatches).
    staged = qdf.withColumn(
        "max_err_ns", F.floor(F.array_max(dq) * F.lit(1e9)).cast("long")
    )
    return staged.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_q"),
        F.array_max("q").cast("long").alias("max_q"),
        "max_err_ns",
    )


# --- corpus hygiene / assembly (round 5) ------------------------------------


# Histogram-sketch bounds for the length profile: n_chars spans
# [0, ~600] in the documents fixture; 64 bins over [0, 640] gives
# 10-char resolution — the a-priori error the sketch contract states.
_LP_LO, _LP_HI, _LP_BINS, _LP_QS = 0, 640, 64, (50, 90, 99)


def _length_percentiles_oracle() -> str:
    from terra_bonobo_nodes_spark.llm.quantiles import histogram_quantile_sql

    sk = histogram_quantile_sql(
        "SELECT * FROM documents",
        "n_chars",
        "source",
        _LP_LO,
        _LP_HI,
        _LP_BINS,
        _LP_QS,
    )
    piv = ",\n         ".join(
        f"min(CASE WHEN q = {q} THEN {c} END) AS sk{q}_{a}"
        for q in _LP_QS
        for c, a in (("bin_lo", "lo"), ("bin_hi", "hi"), ("exact_q", "exact"))
    )
    outcols = ",\n       ".join(
        f"p.sk{q}_lo, p.sk{q}_hi, p.sk{q}_exact,\n       "
        f"(p.sk{q}_exact >= p.sk{q}_lo AND (p.sk{q}_exact < p.sk{q}_hi OR "
        f"(p.sk{q}_hi = {_LP_HI} AND p.sk{q}_exact <= {_LP_HI})))"
        f" AS sk{q}_covers"
        for q in _LP_QS
    )
    return f"""
WITH _ex AS (
  SELECT source,
         count(*) AS n_docs,
         round(quantile_cont(n_chars, 0.25), 6) AS p25,
         round(quantile_cont(n_chars, 0.50), 6) AS p50,
         round(quantile_cont(n_chars, 0.90), 6) AS p90,
         round(quantile_cont(n_chars, 0.99), 6) AS p99
  FROM documents GROUP BY source),
_sk AS ({sk}),
_skp AS (SELECT "group" AS source, {piv} FROM _sk GROUP BY 1)
SELECT e.source, e.n_docs, e.p25, e.p50, e.p90, e.p99,
       {outcols}
FROM _ex e LEFT JOIN _skp p ON p.source IS NOT DISTINCT FROM e.source
"""


@register(
    "llm_length_percentiles",
    oracle=_length_percentiles_oracle(),
    headline=True,  # promoted r15; benched since r16 (VERDICT_r15 #4)
    tags=("llm", "stats", "sketch"),
)
def llm_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length percentile profile (the first chart
    of any corpus audit). EXACT percentiles with linear interpolation —
    Spark's `percentile` and DuckDB's `quantile_cont` share the
    definition, so the oracle checks values, not approximations.

    Widened round 15 (the approx_distinct_users zero-net precedent,
    absorbing the llm_length_quantile_sketch candidate): the row also
    carries the HISTOGRAM QUANTILE SKETCH answer for p50/p90/p99
    (llm/quantiles.py) — per q, the sketch's bin bounds, the exact
    discrete percentile, and the coverage guarantee (true percentile
    inside the answered bin). The sketch is the 100 TB path: build is
    one bounded combinable aggregate over groups*bins cells (streams
    in complete mode, merges across days by cell addition — pinned in
    test_quantiles), where the exact percentile is a per-group SORT.
    All sketch values are integer arithmetic, so they hash-compare
    cross-engine; the exact interpolated p25..p99 ride along as the
    verification harness."""
    from terra_bonobo_nodes_spark.llm import quantiles as hq

    docs = load_table(spark, sf_dir, "documents")
    pct = F.expr("percentile(n_chars, array(0.25, 0.5, 0.9, 0.99))")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), pct.alias("_p")
    )
    base = agg.select(
        "source",
        "n_docs",
        F.round(F.col("_p")[0], 6).alias("p25"),
        F.round(F.col("_p")[1], 6).alias("p50"),
        F.round(F.col("_p")[2], 6).alias("p90"),
        F.round(F.col("_p")[3], 6).alias("p99"),
    )
    cells = hq.histogram_cells(
        docs, "n_chars", "source", _LP_LO, _LP_HI, _LP_BINS
    )
    sk = hq.histogram_quantiles(cells, _LP_QS, _LP_LO, _LP_HI, _LP_BINS)
    ex = hq.exact_disc_quantiles(docs, "n_chars", "source", _LP_QS).select(
        F.col("group").alias("_eg"), F.col("q").alias("_eq"), "exact_q"
    )
    # null-SAFE group join (a NULL source is a real group on both
    # sides — the vocab-coverage ADVICE r15 lesson applied here too)
    j = sk.join(
        ex, sk["group"].eqNullSafe(F.col("_eg")) & (sk["q"] == F.col("_eq"))
    )
    piv = j.groupBy("group").agg(
        *[
            F.min(F.when(F.col("q") == q, F.col(c))).alias(f"sk{q}_{a}")
            for q in _LP_QS
            for c, a in (
                ("bin_lo", "lo"),
                ("bin_hi", "hi"),
                ("exact_q", "exact"),
            )
        ]
    )
    piv = piv.withColumns(
        {
            f"sk{q}_covers": (F.col(f"sk{q}_exact") >= F.col(f"sk{q}_lo"))
            & (
                (F.col(f"sk{q}_exact") < F.col(f"sk{q}_hi"))
                | (
                    (F.col(f"sk{q}_hi") == _LP_HI)
                    & (F.col(f"sk{q}_exact") <= _LP_HI)
                )
            )
            for q in _LP_QS
        }
    )
    # LEFT + null-safe: the report is ONE ROW PER SOURCE, ALWAYS — a
    # source whose n_chars are all NULL has no sketch cells, and must
    # surface with NULL sketch columns, not vanish from the report
    return base.join(
        piv, base["source"].eqNullSafe(piv["group"]), "left"
    ).select(
        "source",
        "n_docs",
        "p25",
        "p50",
        "p90",
        "p99",
        *[
            f"sk{q}_{a}"
            for q in _LP_QS
            for a in ("lo", "hi", "exact", "covers")
        ],
    )


@register(
    "llm_temperature_mix_weights",
    oracle="""
WITH counts AS (
  SELECT source, count(*) AS n_docs, pow(count(*), 0.3) AS s
  FROM documents GROUP BY source),
tot AS (SELECT sum(n_docs) AS tn, sum(s) AS ts FROM counts)
SELECT source, n_docs,
       round(n_docs / tn, 6) AS natural_share,
       round(s / ts, 6) AS mix_weight,
       round((s / ts) / (n_docs / tn), 6) AS boost
FROM counts, tot
""",
    tags=("llm", "corpus"),
)
def llm_temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per source (alpha=0.3, the
    public mT5/XLM-R multilingual mixing recipe) via
    ``corpus.temperature_mix_weights``."""
    from terra_bonobo_nodes_spark.llm.corpus import temperature_mix_weights

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix_weights(docs, "source", alpha=0.3)


# llm_decontaminate_overlap + llm_substring_decontaminate MERGED round
# 14 into ONE doc-grain decontamination surface (the j1 / sample-
# surface precedent): both screens run over the SAME candidate set
# (every non-src0 document vs the src0 "benchmark") and join on the
# doc key — word-trigram containment (the n-gram overlap sweep) and
# winnowed-fingerprint exact-substring detection on one row, each
# keeping its standalone contract and oracle arithmetic. One slot
# freed; it registers llm_exact_substring_spans (queue head).
# LATE r17: the row — due this round — WIDENED with a THIRD screen,
# absorbing the llm_bloom_decontaminate candidate at zero rotation
# cost (the anchor-leg capacity-partner route): Bloom-filter n-gram
# membership, the fixed-memory complement to the exact broadcast
# semi-joins. Its bench split is its own (doc_id % 97 slice, probes
# ALL docs incl. bench), so the legs FULL-join on doc_id and the
# bloom columns are NULL-free while ng/ss columns are NULL on bench
# docs — each leg's oracle text verbatim as a subquery.

_BLOOM_M, _BLOOM_K, _BLOOM_N = 1 << 16, 3, 3


def _bloom_leg_oracle() -> str:
    from terra_bonobo_nodes_spark.llm import hashing as _h
    from terra_bonobo_nodes_spark.llm.bloom import _SEED

    # mirror llm/bloom._probe_grams: NULL-as-empty text, '' gram (the
    # empty-document degenerate) excluded — NULL/empty docs probe 0.
    # The filter BUILDS from the candidate's own bench split (the
    # doc_id % 97 slice of ALL docs, unchanged) but PROBES the
    # candidate corpus (source <> 'src0') — the same probe set as the
    # other two screens, so the surface's legs share one exact row
    # set and the row stays NULL-free.
    gs = (
        "list_filter("
        + _h.word_shingles_sql("coalesce(text, '')", _BLOOM_N)
        + ", s -> s <> '')"
    )
    pos_union = "\nUNION ALL ".join(
        f"SELECT {_h.digest_slice_sql('s', _SEED, i, _BLOOM_M)} AS p FROM bg"
        for i in range(_BLOOM_K)
    )
    probes = "\n    AND ".join(
        f"EXISTS (SELECT 1 FROM pos WHERE pos.p = {_h.digest_slice_sql('cg.s', _SEED, i, _BLOOM_M)})"
        for i in range(_BLOOM_K)
    )
    return f"""
WITH bench AS (
  SELECT {gs} AS gs FROM documents WHERE (doc_id % 97) = 0
), bg AS (SELECT unnest(gs) AS s FROM bench),
pos AS (SELECT DISTINCT p FROM ({pos_union})),
cg AS (SELECT doc_id, unnest({gs}) AS s FROM documents
       WHERE source <> 'src0'),
hit AS (
  SELECT doc_id FROM cg
  WHERE {probes}
), h AS (SELECT doc_id, count(*) AS nh FROM hit GROUP BY 1),
g AS (SELECT doc_id, CAST(len({gs}) AS BIGINT) AS ng FROM documents
      WHERE source <> 'src0')
SELECT g.doc_id, g.ng AS bloom_n_ngrams,
       CAST(coalesce(h.nh, 0) AS BIGINT) AS bloom_n_hits,
       coalesce(h.nh, 0) > 0 AS bloom_flagged
FROM g LEFT JOIN h USING (doc_id)
"""


def _decontamination_surface_oracle() -> str:
    return f"""
SELECT d.doc_id,
       d.n_grams, d.n_hits, d.containment, d.ngram_contaminated,
       d.n_fp, d.n_shared_fp, d.substr_contaminated,
       b.bloom_n_ngrams, b.bloom_n_hits, b.bloom_flagged
FROM ({_two_screen_oracle()}) d
JOIN ({_bloom_leg_oracle()}) b ON d.doc_id = b.doc_id
"""


def _two_screen_oracle() -> str:
    from terra_bonobo_nodes_spark.llm.hashing import word_shingles_sql

    grams = word_shingles_sql("text", 3)
    return f"""{_winnow_cte()},
ng_bench AS (
  SELECT DISTINCT g FROM (
    SELECT unnest({grams}) AS g FROM documents WHERE source = 'src0')),
ng_cand AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest({grams}) AS g
    FROM documents WHERE source <> 'src0')),
ng_tot AS (SELECT doc_id, count(*) AS n_grams FROM ng_cand GROUP BY doc_id),
ng_hit AS (
  SELECT c.doc_id, count(*) AS n_hits
  FROM ng_cand c JOIN ng_bench b ON c.g = b.g GROUP BY c.doc_id),
ng AS (
  SELECT t.doc_id, t.n_grams,
         coalesce(h.n_hits, 0) AS n_hits,
         round(coalesce(h.n_hits, 0) * 1.0 / t.n_grams, 6) AS containment,
         coalesce(h.n_hits, 0) * 1.0 / t.n_grams >= 0.5 AS ngram_contaminated
  FROM ng_tot t LEFT JOIN ng_hit h ON h.doc_id = t.doc_id),
ss_inv AS (SELECT doc_id, unnest(fps) AS fp FROM fd),
ss_cand AS (SELECT i.doc_id, i.fp FROM ss_inv i
            JOIN documents d ON d.doc_id = i.doc_id WHERE d.source <> 'src0'),
ss_bset AS (SELECT DISTINCT i.fp FROM ss_inv i
            JOIN documents d ON d.doc_id = i.doc_id WHERE d.source = 'src0'),
ss_tot AS (SELECT doc_id, count(*) AS n_fp FROM ss_cand GROUP BY 1),
ss_hit AS (SELECT c.doc_id, count(*) AS n_shared_fp
           FROM ss_cand c JOIN ss_bset b ON c.fp = b.fp GROUP BY 1),
ss AS (
  SELECT t.doc_id, t.n_fp,
         coalesce(h.n_shared_fp, 0) AS n_shared_fp,
         coalesce(h.n_shared_fp, 0) >= 1 AS substr_contaminated
  FROM ss_tot t LEFT JOIN ss_hit h ON h.doc_id = t.doc_id)
SELECT coalesce(ng.doc_id, ss.doc_id) AS doc_id,
       ng.n_grams, ng.n_hits, ng.containment, ng.ngram_contaminated,
       ss.n_fp, ss.n_shared_fp, ss.substr_contaminated
FROM ng FULL JOIN ss ON ng.doc_id = ss.doc_id
"""


@register(
    "llm_decontamination_surface",
    oracle=_decontamination_surface_oracle(),
    headline=True,
    tags=("llm", "corpus", "dedup"),
)
def llm_decontamination_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three benchmark-decontamination screens at doc grain:
    word-trigram containment (``corpus.decontaminate`` — the
    train/test overlap sweep), winnowed-fingerprint exact-substring
    detection (``corpus.decontaminate_substring`` — any shared
    verbatim substring of >= k+window-1 normalized chars surfaces at
    least one shared fingerprint regardless of surrounding
    paraphrase), and Bloom-filter n-gram membership (``llm/bloom.py``
    — the fixed-memory screen: the filter builds distributed, ships
    as one packed plan literal, and the probe is a zero-exchange
    zero-Python projection; widened in late r17). Each benchmark side
    reduces to a broadcastable set; the candidate corpus never
    shuffles; the surface joins are on the table key."""
    from terra_bonobo_nodes_spark.llm.bloom import (
        build_bloom_bits,
        flag_bloom_contaminated,
    )
    from terra_bonobo_nodes_spark.llm.corpus import (
        decontaminate,
        decontaminate_substring,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    bench = docs.where(F.col("source") == "src0")
    cand = docs.where(F.col("source") != "src0")
    ng = decontaminate(cand, bench, "text", "doc_id", n=3, threshold=0.5).select(
        "doc_id",
        "n_grams",
        "n_hits",
        "containment",
        F.col("contaminated").alias("ngram_contaminated"),
    )
    ss = decontaminate_substring(
        cand, bench, "text", "doc_id", k=_WN_K, window=_WN_WINDOW, min_shared=1
    ).select(
        "doc_id",
        "n_fp",
        "n_shared_fp",
        F.col("contaminated").alias("substr_contaminated"),
    )
    # bloom leg: builds from its own bench split (the doc_id % 97
    # slice of ALL docs) but probes the same candidate corpus as the
    # other screens — one shared row set, NULL-free surface
    clean = F.coalesce("text", F.lit("")).alias("text")
    bits = build_bloom_bits(
        docs.where(F.pmod("doc_id", F.lit(97)) == 0).select("doc_id", clean),
        n=_BLOOM_N,
        m_bits=_BLOOM_M,
        k=_BLOOM_K,
    )
    bl = flag_bloom_contaminated(
        cand.select("doc_id", clean), bits, n=_BLOOM_N, k=_BLOOM_K
    ).select("doc_id", "bloom_n_ngrams", "bloom_n_hits", "bloom_flagged")
    return ng.join(ss, "doc_id", "full").join(bl, "doc_id")


def _incremental_oracle() -> str:
    """Two-sided mirror of _minhash_cte: signatures for the 'new'
    batch (doc_id % 10 = 0) vs the stored corpus (the rest), banded,
    one asymmetric join."""
    shingles = hashing.char_shingles_sql("text", _MH_SHINGLE)
    params = hashing.perm_params(_MH_K)
    mins = ", ".join(
        f"min((h * {a} + {b}) % {hashing.MINHASH_P})" for a, b in params
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, sig, {b} AS band, "
        f"{hashing.band_hash_sql('sig', b, _MH_ROWS)} AS bh FROM sigs"
        for b in range(_MH_BANDS)
    )
    sim = (
        "CAST(len(list_filter(list_zip(sig_n, sig_c), x -> x[1] = x[2])) "
        f"AS DOUBLE) / {float(_MH_K)}"
    )
    return f"""
WITH posting AS (
  SELECT doc_id, unnest({shingles}) AS sh FROM documents
),
hashed AS (SELECT doc_id, {hashing.hash32_sql('sh')} AS h FROM posting),
sigs AS (SELECT doc_id, [{mins}] AS sig FROM hashed GROUP BY doc_id),
banded AS ({band_rows}),
pairs AS (
  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id,
         n.sig AS sig_n, c.sig AS sig_c
  FROM banded n JOIN banded c ON n.band = c.band AND n.bh = c.bh
  WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
)
SELECT new_id, corpus_id, {sim} AS est_jaccard
FROM pairs WHERE {sim} >= 0.5
"""


@register(
    "llm_incremental_dedup",
    oracle=_incremental_oracle(),
    tags=("llm", "dedup"),
)
def llm_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup: LSH-match a 'new batch' (doc_id % 10 = 0)
    against the stored corpus (the rest) via the asymmetric
    ``minhash_lsh_match`` — one (band, hash) equi-join, no self-join,
    no new×new pairs.

    This query exercises BOTH operator branches: the corpus side feeds
    PRECOMPUTED signatures (the ``sig`` column fast path — at 100 TB
    the corpus is hashed once, persisted, and every batch joins against
    the stored band table), while the new side arrives as raw text and
    re-hashes. Signatures are deterministic, so the oracle (which
    rebuilds both sides from text) is unchanged; presig ≡ recompute is
    additionally pinned by tests/test_llm_ops.py."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    corpus_sigs = dedup.minhash_signatures(
        corpus, "text", "doc_id", n_hashes=_MH_K, shingle_n=_MH_SHINGLE
    )  # (doc_id, sig) — the persisted artifact a production store keeps
    return dedup.minhash_lsh_match(
        new,
        corpus_sigs,
        "text",
        "doc_id",
        n_hashes=_MH_K,
        bands=_MH_BANDS,
        shingle_n=_MH_SHINGLE,
        min_est_jaccard=0.5,
    )


@register(
    "llm_curation_funnel",
    oracle=f"""
WITH fp AS (
  SELECT doc_id, source, lang, n_chars,
         md5({hashing.normalize_sql('text')}) AS f
  FROM documents),
surv AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
    FROM fp) WHERE rn = 1),
r AS (SELECT source, count(*) AS n_raw FROM documents GROUP BY source),
s AS (
  SELECT source, count(*) AS n_dedup,
         count(*) FILTER (n_chars >= 150) AS n_len,
         count(*) FILTER (n_chars >= 150 AND lang = 'en') AS n_len_lang
  FROM surv GROUP BY source)
SELECT r.source, r.n_raw,
       coalesce(s.n_dedup, 0) AS n_dedup,
       coalesce(s.n_len, 0) AS n_len,
       coalesce(s.n_len_lang, 0) AS n_len_lang
FROM r LEFT JOIN s ON s.source = r.source
""",
    tags=("llm", "corpus"),
)
def llm_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation funnel in one plan: per source, raw doc
    count, exact-dedup survivors (min-id per normalized-text md5 — the
    operator's window formulation, mirrored as row_number in SQL), then
    length and language gates on the survivors. The per-stage counts
    are what every pretraining data report publishes; composing them as
    ONE Catalyst plan (two aggregates + a broadcast join) shows the
    operators fuse instead of materializing between stages."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    raw = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    surv = dedup.exact_dedup(docs, "text", "doc_id")
    lenok = F.col("n_chars") >= 150
    s = surv.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_dedup"),
        F.count(F.when(lenok, 1)).alias("n_len"),
        F.count(F.when(lenok & (F.col("lang") == "en"), 1)).alias("n_len_lang"),
    )
    return (
        raw.join(s, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_dedup", F.lit(0)).alias("n_dedup"),
            F.coalesce("n_len", F.lit(0)).alias("n_len"),
            F.coalesce("n_len_lang", F.lit(0)).alias("n_len_lang"),
        )
    )


# --- corpus hygiene: PII + boilerplate (llm/scrub.py) -----------------------

# Deterministic PII payload appended to each doc so the redaction
# operator sees real positives (the synthetic corpus has no digits or
# @-signs). Built with IDENTICAL expressions on both engines.
_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || CASE WHEN doc_id % 2 = 0 THEN ' also admin@test.org' ELSE '' END"
    " || ' or 10.' || CAST(doc_id % 200 AS VARCHAR)"
    " || '.' || CAST(doc_id % 250 AS VARCHAR)"
    " || '.' || CAST(doc_id % 100 AS VARCHAR)"
    " || ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' acct 9' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 10, '0')"
)


def _pii_suffix_col() -> "F.Column":
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return F.concat(
        F.lit(" contact user"), s(d), F.lit("@example.com"),
        F.when(d % 2 == 0, F.lit(" also admin@test.org")).otherwise(F.lit("")),
        F.lit(" or 10."), s(d % 200), F.lit("."), s(d % 250), F.lit("."), s(d % 100),
        F.lit(" call +1 (555) 010-"), F.lpad(s(d % 10000), 4, "0"),
        F.lit(" acct 9"), F.lpad(s(d % 100000000), 10, "0"),
    )


@register(
    "llm_pii_scrub",
    oracle=f"""
WITH p AS (SELECT doc_id, text || {_PII_SUFFIX_SQL} AS ptext FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(ptext, '{scrub.PII_PATTERNS["email"]}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(ptext, '{scrub.PII_PATTERNS["ipv4"]}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(ptext, '{scrub.PII_PATTERNS["phone"]}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(ptext, '{scrub.PII_PATTERNS["digit_id"]}')) AS BIGINT) AS n_digit_id,
       md5({scrub.pii_redact_sql("ptext")}) AS redacted_md5,
       CAST(length({scrub.pii_redact_sql("ptext")}) AS BIGINT) AS redacted_len
FROM p
""",
    tags=("llm", "scrub"),
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (llm/scrub.py): per-doc counts of each
    PII class on a deterministically PII-seeded text, plus the md5 and
    length of the fully redacted text — a full-value check that the
    Java-regex and RE2 interpretations of every pattern agree match by
    match. Pure projection: zero shuffles, scan-bound at 100 TB."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    p = docs.select(
        "doc_id", F.concat(F.col("text"), _pii_suffix_col()).alias("ptext")
    )
    counted = scrub.pii_counts(p, "ptext")
    red = scrub.pii_redact(counted, "ptext", "redacted")
    return red.select(
        "doc_id",
        "n_email", "n_ipv4", "n_phone", "n_digit_id",
        F.md5("redacted").alias("redacted_md5"),
        F.length("redacted").cast("long").alias("redacted_len"),
    )


_BOILER = "subscribe to our newsletter for all latest updates"  # 8 tokens
_BP_K = 8
_BP_MAX_DF = 5


@register(
    "llm_boilerplate_removal",
    headline=True,
    oracle=f"""
WITH base AS (SELECT doc_id, '{_BOILER} ' || text AS btext FROM documents),
tok AS (SELECT doc_id,
               list_filter(str_split_regex(lower(btext), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM base),
par AS (SELECT doc_id, r.idx AS idx,
               array_to_string(toks[((r.idx-1)*{_BP_K}+1):((r.idx-1)*{_BP_K}+{_BP_K})], ' ') AS para
        FROM tok, unnest(range(1, CAST(ceil(len(toks)/{_BP_K}.0) AS BIGINT) + 1)) AS r(idx)),
hot AS (SELECT md5(para) AS h FROM par GROUP BY 1
        HAVING count(DISTINCT doc_id) > {_BP_MAX_DF}),
kept AS (SELECT p.* FROM par p LEFT JOIN hot ON md5(p.para) = hot.h
         WHERE hot.h IS NULL),
tot AS (SELECT doc_id, count(*) AS n_para FROM par GROUP BY 1),
cl AS (SELECT doc_id, string_agg(para, ' ' ORDER BY idx) AS clean,
              count(*) AS n_kept
       FROM kept GROUP BY 1)
SELECT t.doc_id, t.n_para,
       coalesce(cl.n_kept, 0) AS n_kept,
       md5(coalesce(cl.clean, '')) AS clean_md5,
       CAST(length(coalesce(cl.clean, '')) AS BIGINT) AS clean_len
FROM tot t LEFT JOIN cl ON cl.doc_id = t.doc_id
""",
    tags=("llm", "scrub"),
)
def llm_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate paragraph removal (llm/scrub.py): a fixed
    8-token banner prepended to EVERY document (so its paragraph's
    document frequency is the corpus size) must be stripped, while each
    document's own content paragraphs (df = 1) survive and reassemble
    in order. Checks paragraph chunking, the df cut, and ordered
    reassembly byte-for-byte via the clean-text md5."""
    # spread the single-task scan: paragraph split + df-window +
    # reassembly are per-row/per-paragraph heavy (guide §2.5)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    base = docs.select(
        "doc_id", F.concat(F.lit(_BOILER + " "), F.col("text")).alias("btext")
    )
    clean = scrub.remove_boilerplate(
        base, "doc_id", "btext",
        para_tokens=_BP_K, max_df=_BP_MAX_DF, out_col="clean",
    )
    return clean.select(
        "doc_id",
        "n_para",
        "n_kept",
        F.md5("clean").alias("clean_md5"),
        F.length("clean").cast("long").alias("clean_len"),
    )


# (llm_quantized_rerank_topk registration merged into llm_cosine_topk,
# round 13 — both retrieval paths ride that one (query_id, rank) row)

_RSV_N, _RSV_SEED = 15, "tbns-reservoir-v1"


# llm_reservoir_sample + llm_source_quota_sample MERGED round 14 into
# ONE doc-grain row (the fn_scalar / llm_text_counts_surface
# precedent): both deterministic hash-rank samplers — the fixed-size
# per-language reservoir and the per-source contribution cap — are the
# same operator family (llm/corpus.py seeded-hash window rank), and a
# doc-grain surface carries each verdict as a column (NULL
# reservoir_rank = not selected; in_quota boolean). The SELECTED SETS
# stay fully verified: the rank column pins the reservoir's exact
# ordering, the boolean pins the quota's membership, over every doc.
# WIDENED round 16 (ledger item 2, pre-staged r15 as the hash-green
# llm_sample_surface_wide candidate): + priority_rank, the
# Duffield-Lund-Thorup weighted priority sampler's per-language rank
# (llm/wsample.py; NULL = not in the weighted top-_PSW_K by n_chars —
# the reservoir_rank convention), so all THREE samplers ride one
# doc-grain row. One extra window shuffle (the sampler's own plan).
_PSW_K = 32

_SAMPLE_SURFACE_BASE_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         {hashing.row_hash_sql("doc_id", _RSV_SEED)} AS u
  FROM documents),
r AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY u ASC, doc_id ASC)
           AS sample_rank
  FROM h JOIN documents USING (doc_id)),
res AS (SELECT doc_id, CAST(sample_rank AS BIGINT) AS reservoir_rank
        FROM r WHERE sample_rank <= {_RSV_N}),
qr AS (
  SELECT doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {hashing.row_hash_sql("doc_id", "tbns-quota-v1")} ASC,
                    doc_id ASC
         ) AS rnk
  FROM documents),
qk AS (SELECT doc_id FROM qr WHERE rnk <= 20)
SELECT d.doc_id, d.lang, d.source,
       res.reservoir_rank AS reservoir_rank,
       qk.doc_id IS NOT NULL AS in_quota
FROM documents d
LEFT JOIN res USING (doc_id)
LEFT JOIN qk USING (doc_id)
"""


def _sample_surface_oracle() -> str:
    from terra_bonobo_nodes_spark.llm.wsample import priority_sample_sql

    pw = priority_sample_sql(
        "SELECT * FROM documents", "n_chars", "lang", "doc_id", _PSW_K
    )
    return f"""
WITH _ss AS ({_SAMPLE_SURFACE_BASE_ORACLE}),
_pw AS ({pw})
SELECT _ss.*, CAST(_pw.rank AS BIGINT) AS priority_rank
FROM _ss LEFT JOIN _pw ON _pw.id = _ss.doc_id
"""


@register(
    "llm_sample_surface",
    oracle=_sample_surface_oracle(),
    headline=True,
    tags=("llm", "corpus", "sample"),
)
def llm_sample_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-grain sampling surface carrying all THREE samplers:
    reservoir_sample's per-language seeded-hash rank (NULL when not
    selected), source_quota_sample's per-source cap membership, and
    the DLT weighted priority rank (NULL when outside the per-language
    weighted top-k). Three window shuffles (one per sampler's grouping
    key) — the operators' own plans, unchanged; the surface joins are
    on the table's own key."""
    from terra_bonobo_nodes_spark.llm import wsample
    from terra_bonobo_nodes_spark.llm.corpus import (
        reservoir_sample,
        source_quota_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    pr = wsample.priority_sample(
        load_table(spark, sf_dir, "documents"), "n_chars", "lang", "doc_id",
        k=_PSW_K,
    ).select(
        F.col("id").alias("doc_id"),
        F.col("rank").cast("long").alias("priority_rank"),
    )
    rs = reservoir_sample(
        docs.select("doc_id", "lang"), ["lang"], _RSV_N, "doc_id",
        seed=_RSV_SEED,
    ).select(
        "doc_id", F.col("sample_rank").cast("long").alias("reservoir_rank")
    )
    qs = source_quota_sample(
        docs.select("doc_id", "source", "lang"), "source", cap=20,
        id_col="doc_id",
    ).select("doc_id", F.lit(True).alias("in_quota"))
    return (
        docs.join(rs, "doc_id", "left")
        .join(qs, "doc_id", "left")
        .join(pr, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            "reservoir_rank",
            F.coalesce("in_quota", F.lit(False)).alias("in_quota"),
            "priority_rank",
        )
    )


# llm_char_lm_entropy WIDENED round 14 into llm_lm_entropy_surface
# (zero-net promotion of the llm_word_lm_xent candidate — same doc
# grain, the llm_text_counts_surface precedent): the corpus-trained
# char-bigram LM entropy and CCNet's train-on-trusted-reference
# word-bigram LM cross-entropy (Wenzek et al. 2020 §3.3) on one row
# per document. Each signal keeps its exact standalone contract
# (integer-count probabilities, quantized DECIMAL(20,6) logs).
# LATE r17: widened again with the absorbed llm_perplexity_buckets
# candidate's ppl_bucket column — _PPL_LEG_SQL below is that
# candidate's oracle text verbatim (it restates the same char-LM
# model and takes quantile_cont tercile cutoffs over the 4-decimal-
# quantized entropy; the quantization makes every boundary
# comparison engine-exact — see perplexity_buckets' docstring).
_PPL_LEG_SQL = f"""
WITH nd AS (SELECT doc_id, {hashing.normalize_sql('text')} AS t FROM documents),
bg AS (SELECT doc_id, substr(t, CAST(r.i AS INTEGER), 2) AS b
       FROM nd, unnest(range(1, length(t))) AS r(i)
       WHERE length(t) >= 2),
mc AS (SELECT b, count(*) AS c FROM bg GROUP BY 1),
pc AS (SELECT substr(b, 1, 1) AS c1, CAST(SUM(c) AS BIGINT) AS p FROM mc GROUP BY 1),
model AS (
  SELECT mc.b,
         CAST(mc.c + 1 AS DOUBLE) / CAST(pc.p + {text.LM_ALPHABET_SIZE} AS DOUBLE)
           AS prob
  FROM mc JOIN pc ON substr(mc.b, 1, 1) = pc.c1),
sc AS (SELECT bg.doc_id, CAST(ln(model.prob) AS DECIMAL(20,6)) AS lp
       FROM bg JOIN model ON model.b = bg.b),
agg AS (SELECT doc_id, count(*) AS m,
               -CAST(SUM(lp) AS DOUBLE) / count(*) AS h
        FROM sc GROUP BY 1),
e AS (
  SELECT d.doc_id,
         CAST(coalesce(agg.m, 0) AS BIGINT) AS n_bigrams,
         round(coalesce(agg.h, 0.0), 4) AS lm_entropy
  FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id),
c AS (
  SELECT quantile_cont(lm_entropy, CAST(1 AS DOUBLE) / 3) AS c1,
         quantile_cont(lm_entropy, CAST(2 AS DOUBLE) / 3) AS c2
  FROM e WHERE n_bigrams > 0)
SELECT doc_id, n_bigrams, lm_entropy,
       CASE WHEN n_bigrams = 0 THEN 'empty'
            WHEN lm_entropy <= c1 THEN 'head'
            WHEN lm_entropy <= c2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM e CROSS JOIN c
"""


@register(
    "llm_lm_entropy_surface",
    oracle=f"""
WITH nd AS (SELECT doc_id, {hashing.normalize_sql('text')} AS t FROM documents),
bg AS (SELECT doc_id, substr(t, CAST(r.i AS INTEGER), 2) AS b
       FROM nd, unnest(range(1, length(t))) AS r(i)
       WHERE length(t) >= 2),
mc AS (SELECT b, count(*) AS c FROM bg GROUP BY 1),
pc AS (SELECT substr(b, 1, 1) AS c1, CAST(SUM(c) AS BIGINT) AS p FROM mc GROUP BY 1),
model AS (
  SELECT mc.b,
         CAST(mc.c + 1 AS DOUBLE) / CAST(pc.p + {text.LM_ALPHABET_SIZE} AS DOUBLE)
           AS prob
  FROM mc JOIN pc ON substr(mc.b, 1, 1) = pc.c1),
sc AS (SELECT bg.doc_id, CAST(ln(model.prob) AS DECIMAL(20,6)) AS lp
       FROM bg JOIN model ON model.b = bg.b),
agg AS (SELECT doc_id, count(*) AS m,
               -CAST(SUM(lp) AS DOUBLE) / count(*) AS h
        FROM sc GROUP BY 1),
w AS (
  SELECT doc_id, n_bigrams AS word_n_bigrams,
         round(lm_xent, 4) AS word_xent
  FROM ({lm.word_lm_xent_sql(
      "documents", "(SELECT text FROM documents WHERE lang = 'en')")})
),
pb AS (SELECT doc_id, ppl_bucket FROM ({_PPL_LEG_SQL}))
SELECT d.doc_id,
       CAST(coalesce(agg.m, 0) AS BIGINT) AS char_n_bigrams,
       round(coalesce(agg.h, 0.0), 4) AS char_entropy,
       w.word_n_bigrams, w.word_xent, pb.ppl_bucket
FROM documents d
LEFT JOIN agg ON agg.doc_id = d.doc_id
JOIN w ON w.doc_id = d.doc_id
JOIN pb ON pb.doc_id = d.doc_id
""",
    tags=("llm", "text", "quality"),
)
def llm_lm_entropy_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LM quality signals (llm/text.char_lm_entropy +
    llm/lm.word_lm_xent): char-bigram entropy trained on the scored
    corpus itself, and word-bigram cross-entropy trained on the
    trusted English slice — add-one smoothing, exact BIGINT counts,
    quantized-log sums, identical across engines by construction. The
    word model ships as one broadcast table plus a single-row
    vocabulary scalar (the documented 1-row BNLJ — see
    tests/test_plan_audit.CROSS_JOIN_OK). WIDENED late r17 — the row
    was due — with the absorbed llm_perplexity_buckets candidate's
    distinctive output: the CCNet head/middle/tail tercile assignment
    (``ppl_bucket``; the entropy it buckets IS this row's char leg,
    so only the bucket column joins in — its cutoffs ship as the
    documented second 1-row scalar)."""
    from terra_bonobo_nodes_spark.llm import lm as _lm

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    ch = text.char_lm_entropy(docs.select("doc_id", "text"), "doc_id", "text").select(
        "doc_id",
        F.col("n_bigrams").alias("char_n_bigrams"),
        F.round("lm_entropy", 4).alias("char_entropy"),
    )
    ref = docs.where(F.col("lang") == "en").select("text")
    wd = _lm.word_lm_xent(docs.select("doc_id", "text"), ref).select(
        "doc_id",
        F.col("n_bigrams").alias("word_n_bigrams"),
        F.round("lm_xent", 4).alias("word_xent"),
    )
    pb = text.perplexity_buckets(
        docs.select("doc_id", "text"), exact=True
    ).select("doc_id", "ppl_bucket")
    return ch.join(wd, "doc_id").join(pb, "doc_id")


@register(
    "llm_dedup_keep_policy",
    oracle=f"""
WITH comp AS (SELECT * FROM ({_components_oracle()}) c),
alldocs AS (
  SELECT d.doc_id, d.n_chars,
         coalesce(c.component_id, d.doc_id) AS component_id
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
r AS (
  SELECT doc_id, component_id,
         row_number() OVER (PARTITION BY component_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM alldocs)
SELECT doc_id, component_id, rn = 1 AS is_kept FROM r
""",
    tags=("llm", "dedup"),
)
def llm_dedup_keep_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame in one plan: MinHash pairs -> connected
    components -> survivor election (longest document wins its
    component, ties to the smallest id) -> per-doc keep/drop verdict,
    singletons surviving as their own components. This is the actual
    artifact a curation run persists; every stage is the already-
    verified operator, composed."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    pairs = dedup.minhash_lsh_pairs(
        docs.select("doc_id", "text"),
        "text",
        "doc_id",
        n_hashes=_MH_K,
        bands=_MH_BANDS,
        shingle_n=_MH_SHINGLE,
        min_est_jaccard=0.5,
    )
    comp = dedup.connected_components(pairs)
    full = (
        docs.select("doc_id", "n_chars")
        .join(comp, "doc_id", "left")
        .withColumn("component_id", F.coalesce("component_id", "doc_id"))
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return full.withColumn("_rn", F.row_number().over(w)).select(
        "doc_id", "component_id", (F.col("_rn") == 1).alias("is_kept")
    )


# --- round 6: BM25 keyword retrieval ----------------------------------------

_BM25_TERMS = ["dup", "spark", "window"]  # one rare + two common terms
_BM25_K = 50


def _bm25_oracle() -> str:
    from terra_bonobo_nodes_spark.llm.retrieval import bm25_sql

    return f"""
WITH scored AS ({bm25_sql(_BM25_TERMS)}),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT doc_id, n_terms_hit, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_BM25_K}
"""


@register(
    "llm_bm25_keyword_topk",
    headline=True,
    oracle=_bm25_oracle(),
    tags=("llm", "retrieval"),
)
def llm_bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword retrieval (llm/retrieval.bm25_scores): the
    lexical first stage of a RAG/hybrid-search stack, top-50 documents
    for a 3-term query (one rare discriminator + two common terms).
    Corpus tokenizes in one pass computing doc length and query-term
    tf together; N/avgdl reduce to a broadcast row; scoring is a
    projection. Per-term components quantize to 9 dp before a DECIMAL
    sum, so the score — and therefore the ranking — is bit-identical
    across engines and partitionings."""
    from terra_bonobo_nodes_spark.llm.retrieval import bm25_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = bm25_scores(docs, _BM25_TERMS, "text", "doc_id")
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _BM25_K)
        .select("doc_id", "n_terms_hit", "score", "rank")
    )


# ROUND-17 (VERDICT_r15 item 6, swapped in while the row was due): the
# codec row now carries a full value-hash oracle via a KNOWN-ANSWER
# TABLE — legitimate because the decode is bit-exact by construction
# (integer pixel means rounded to 4dp) and the noise seed keys by
# doc_id % 48, so the whole output is a 48-class KAT join. The KAT was
# generated ONCE from the production path; primary pixel correctness
# stays pinned against independent references in tests/test_llm_ops.py
# — the KAT's job is the cross-engine value hash. Every id still
# encodes and decodes its own image, so the bench signal is the full
# codec work.
# The KAT join key is the sign-safe ((doc_id % m) + m) % m: DuckDB's %
# returns negative remainders for negative ids while the Spark fn's
# Python % is always non-negative — same latent oracle-join class as
# the null-key sweep in tests/test_oracle_parity.py.
_CODEC_KAT_ORACLE = """
WITH kat(k, fmt, enc_bytes, width, height, mean_r, mean_g, mean_b) AS (VALUES
  (0, 'png', 4708, 48, 32, 124.7734, 128.4915, 124.7832),
  (1, 'jpeg', 6021, 48, 32, 128.4759, 128.2598, 129.4329),
  (2, 'jpeg_progressive', 6312, 48, 32, 130.6452, 128.89, 126.6224),
  (3, 'png', 4708, 48, 32, 126.3763, 130.8607, 126.4746),
  (4, 'jpeg', 6070, 48, 32, 128.7181, 127.9798, 124.1354),
  (5, 'jpeg_progressive', 6321, 48, 32, 125.7819, 127.5117, 124.6751),
  (6, 'png', 4708, 48, 32, 128.8021, 124.9961, 129.6042),
  (7, 'jpeg', 6035, 48, 32, 124.7194, 124.862, 124.9277),
  (8, 'jpeg_progressive', 6298, 48, 32, 128.7643, 126.5293, 128.1934),
  (9, 'png', 4708, 48, 32, 126.7025, 126.7448, 128.1185),
  (10, 'jpeg', 6042, 48, 32, 128.2852, 128.5651, 127.6582),
  (11, 'jpeg_progressive', 6233, 48, 32, 125.7702, 130.3971, 124.7103),
  (12, 'png', 4708, 48, 32, 126.0983, 129.7982, 125.9134),
  (13, 'jpeg', 6074, 48, 32, 123.6549, 127.3496, 128.9486),
  (14, 'jpeg_progressive', 6266, 48, 32, 125.8945, 129.778, 126.5957),
  (15, 'png', 4708, 48, 32, 129.5605, 128.4076, 125.196),
  (16, 'jpeg', 6055, 48, 32, 126.5234, 127.8594, 128.1654),
  (17, 'jpeg_progressive', 6277, 48, 32, 124.2298, 128.3255, 126.3346),
  (18, 'png', 4708, 48, 32, 128.9596, 128.5885, 126.5716),
  (19, 'jpeg', 6046, 48, 32, 126.8184, 125.5443, 125.123),
  (20, 'jpeg_progressive', 6261, 48, 32, 126.916, 128.1927, 128.0065),
  (21, 'png', 4708, 48, 32, 131.3737, 126.1029, 127.278),
  (22, 'jpeg', 6048, 48, 32, 125.681, 127.709, 127.6413),
  (23, 'jpeg_progressive', 6305, 48, 32, 128.4642, 126.5814, 129.985),
  (24, 'png', 4708, 48, 32, 133.1191, 126.8398, 129.8118),
  (25, 'jpeg', 6033, 48, 32, 129.0742, 126.7786, 127.056),
  (26, 'jpeg_progressive', 6273, 48, 32, 129.8307, 125.4629, 123.8945),
  (27, 'png', 4708, 48, 32, 127.9049, 123.2103, 124.9245),
  (28, 'jpeg', 6090, 48, 32, 126.7272, 129.0924, 128.1777),
  (29, 'jpeg_progressive', 6275, 48, 32, 123.3444, 128.8913, 132.4805),
  (30, 'png', 4708, 48, 32, 126.4837, 126.1491, 125.2878),
  (31, 'jpeg', 6066, 48, 32, 127.6562, 125.4857, 126.4609),
  (32, 'jpeg_progressive', 6284, 48, 32, 126.7767, 129.3288, 128.8444),
  (33, 'png', 4708, 48, 32, 129.3639, 128.8034, 129.806),
  (34, 'jpeg', 6066, 48, 32, 126.1673, 125.5299, 127.9961),
  (35, 'jpeg_progressive', 6296, 48, 32, 127.2409, 127.2396, 127.9961),
  (36, 'png', 4708, 48, 32, 129.6289, 128.5111, 129.0208),
  (37, 'jpeg', 6078, 48, 32, 128.1673, 125.8086, 128.1322),
  (38, 'jpeg_progressive', 6257, 48, 32, 125.597, 127.5651, 128.4095),
  (39, 'png', 4708, 48, 32, 128.3965, 128.7669, 126.5664),
  (40, 'jpeg', 6096, 48, 32, 128.597, 127.7585, 129.1517),
  (41, 'jpeg_progressive', 6268, 48, 32, 131.9147, 127.0117, 129.5378),
  (42, 'png', 4708, 48, 32, 126.5911, 128.1901, 128.3652),
  (43, 'jpeg', 6076, 48, 32, 130.3275, 126.4844, 127.0143),
  (44, 'jpeg_progressive', 6275, 48, 32, 126.7018, 128.3457, 130.0312),
  (45, 'png', 4708, 48, 32, 126.1927, 132.0983, 130.8594),
  (46, 'jpeg', 6048, 48, 32, 130.3197, 124.5833, 127.6413),
  (47, 'jpeg_progressive', 6294, 48, 32, 130.1784, 128.4082, 126.3854))
SELECT d.doc_id AS asset_id,
       kat.fmt,
       CAST(kat.enc_bytes AS BIGINT) AS enc_bytes,
       CAST(kat.width AS INTEGER) AS width,
       CAST(kat.height AS INTEGER) AS height,
       CAST(kat.mean_r AS DOUBLE) AS mean_r,
       CAST(kat.mean_g AS DOUBLE) AS mean_g,
       CAST(kat.mean_b AS DOUBLE) AS mean_b
FROM documents d JOIN kat ON ((d.doc_id % 48) + 48) % 48 = kat.k
WHERE d.doc_id < 1536
"""


@register(
    "llm_codec_throughput",
    oracle=_CODEC_KAT_ORACLE,
    headline=True,
    tags=("llm", "multimodal", "codec", "bench"),
)
def llm_codec_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize→encode→decode 1,536 images (PNG / baseline JPEG /
    progressive JPEG round-robin, noise seed keyed by doc_id % 48) in
    one shuffle-free mapInPandas pass
    (``multimodal.codec_roundtrip_seeded``): the decode-MB/s tripwire
    for the from-spec codecs, KAT-oracled per 48-image class."""
    from terra_bonobo_nodes_spark.llm import multimodal

    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < 1536)
        # the parquet scan yields 1-2 partitions at these SFs, which
        # would serialize ~30s of per-image Python onto one core; a
        # round-robin shuffle of bare BIGINTs costs microseconds and is
        # exactly the repartition a 100 TB decode stage does before its
        # CPU-bound phase (partition by work, not by input bytes)
        .repartition(int(spark.sparkContext.defaultParallelism))
    )
    return multimodal.codec_roundtrip_seeded(ids, seed_mod=48)


# ROUND-17 (VERDICT_r15 item 6): the audio-DSP row's tones were ALWAYS
# keyed by doc_id % 16 (16 classes x 8 bands = 128 KAT rows), so the
# fn is unchanged — only the oracle swaps from rows-only to the
# class-keyed KAT. Primary DSP correctness (tone/band alignment, zcr
# math) stays pinned by tests/test_llm_ops.py.
_AUDIO_KAT_ORACLE = """
WITH kat(k, band, sample_rate, n_windows, zcr, energy) AS (VALUES
  (0, 0, 4000, 2, 0.049525, 0.0),
  (0, 1, 4000, 2, 0.049525, 0.0),
  (0, 2, 4000, 2, 0.049525, 0.0),
  (0, 3, 4000, 2, 0.049525, 4.4e-05),
  (0, 4, 4000, 2, 0.049525, 0.999956),
  (0, 5, 4000, 2, 0.049525, 0.0),
  (0, 6, 4000, 2, 0.049525, 0.0),
  (0, 7, 4000, 2, 0.049525, 0.0),
  (1, 0, 4000, 2, 0.09955, 0.0),
  (1, 1, 4000, 2, 0.09955, 0.0),
  (1, 2, 4000, 2, 0.09955, 0.0),
  (1, 3, 4000, 2, 0.09955, 0.0),
  (1, 4, 4000, 2, 0.09955, 3.3e-05),
  (1, 5, 4000, 2, 0.09955, 0.999967),
  (1, 6, 4000, 2, 0.09955, 0.0),
  (1, 7, 4000, 2, 0.09955, 0.0),
  (2, 0, 4000, 2, 0.149575, 0.0),
  (2, 1, 4000, 2, 0.149575, 0.0),
  (2, 2, 4000, 2, 0.149575, 0.0),
  (2, 3, 4000, 2, 0.149575, 0.0),
  (2, 4, 4000, 2, 0.149575, 0.0),
  (2, 5, 4000, 2, 0.149575, 1.0),
  (2, 6, 4000, 2, 0.149575, 0.0),
  (2, 7, 4000, 2, 0.149575, 0.0),
  (3, 0, 4000, 2, 0.1996, 0.0),
  (3, 1, 4000, 2, 0.1996, 0.0),
  (3, 2, 4000, 2, 0.1996, 0.0),
  (3, 3, 4000, 2, 0.1996, 0.0),
  (3, 4, 4000, 2, 0.1996, 0.0),
  (3, 5, 4000, 2, 0.1996, 0.999996),
  (3, 6, 4000, 2, 0.1996, 4e-06),
  (3, 7, 4000, 2, 0.1996, 0.0),
  (4, 0, 4000, 2, 0.249625, 0.0),
  (4, 1, 4000, 2, 0.249625, 0.0),
  (4, 2, 4000, 2, 0.249625, 0.0),
  (4, 3, 4000, 2, 0.249625, 0.0),
  (4, 4, 4000, 2, 0.249625, 0.0),
  (4, 5, 4000, 2, 0.249625, 0.0),
  (4, 6, 4000, 2, 0.249625, 1.0),
  (4, 7, 4000, 2, 0.249625, 0.0),
  (5, 0, 4000, 2, 0.29965, 0.0),
  (5, 1, 4000, 2, 0.29965, 0.0),
  (5, 2, 4000, 2, 0.29965, 0.0),
  (5, 3, 4000, 2, 0.29965, 0.0),
  (5, 4, 4000, 2, 0.29965, 0.0),
  (5, 5, 4000, 2, 0.29965, 0.0),
  (5, 6, 4000, 2, 0.29965, 1.0),
  (5, 7, 4000, 2, 0.29965, 0.0),
  (6, 0, 4000, 2, 0.349675, 0.0),
  (6, 1, 4000, 2, 0.349675, 0.0),
  (6, 2, 4000, 2, 0.349675, 0.0),
  (6, 3, 4000, 2, 0.349675, 0.0),
  (6, 4, 4000, 2, 0.349675, 0.0),
  (6, 5, 4000, 2, 0.349675, 0.0),
  (6, 6, 4000, 2, 0.349675, 1.0),
  (6, 7, 4000, 2, 0.349675, 0.0),
  (7, 0, 4000, 2, 0.3997, 0.0),
  (7, 1, 4000, 2, 0.3997, 0.0),
  (7, 2, 4000, 2, 0.3997, 0.0),
  (7, 3, 4000, 2, 0.3997, 0.0),
  (7, 4, 4000, 2, 0.3997, 0.0),
  (7, 5, 4000, 2, 0.3997, 0.0),
  (7, 6, 4000, 2, 0.3997, 1.0),
  (7, 7, 4000, 2, 0.3997, 0.0),
  (8, 0, 4000, 2, 0.449725, 0.0),
  (8, 1, 4000, 2, 0.449725, 0.0),
  (8, 2, 4000, 2, 0.449725, 0.0),
  (8, 3, 4000, 2, 0.449725, 0.0),
  (8, 4, 4000, 2, 0.449725, 0.0),
  (8, 5, 4000, 2, 0.449725, 0.0),
  (8, 6, 4000, 2, 0.449725, 0.999989),
  (8, 7, 4000, 2, 0.449725, 1.1e-05),
  (9, 0, 4000, 2, 0.49975, 0.0),
  (9, 1, 4000, 2, 0.49975, 0.0),
  (9, 2, 4000, 2, 0.49975, 0.0),
  (9, 3, 4000, 2, 0.49975, 0.0),
  (9, 4, 4000, 2, 0.49975, 0.0),
  (9, 5, 4000, 2, 0.49975, 0.0),
  (9, 6, 4000, 2, 0.49975, 0.0),
  (9, 7, 4000, 2, 0.49975, 1.0),
  (10, 0, 4000, 2, 0.549775, 0.0),
  (10, 1, 4000, 2, 0.549775, 0.0),
  (10, 2, 4000, 2, 0.549775, 0.0),
  (10, 3, 4000, 2, 0.549775, 0.0),
  (10, 4, 4000, 2, 0.549775, 0.0),
  (10, 5, 4000, 2, 0.549775, 0.0),
  (10, 6, 4000, 2, 0.549775, 0.0),
  (10, 7, 4000, 2, 0.549775, 1.0),
  (11, 0, 4000, 2, 0.5998, 0.0),
  (11, 1, 4000, 2, 0.5998, 0.0),
  (11, 2, 4000, 2, 0.5998, 0.0),
  (11, 3, 4000, 2, 0.5998, 0.0),
  (11, 4, 4000, 2, 0.5998, 0.0),
  (11, 5, 4000, 2, 0.5998, 0.0),
  (11, 6, 4000, 2, 0.5998, 0.0),
  (11, 7, 4000, 2, 0.5998, 1.0),
  (12, 0, 4000, 2, 0.649825, 0.0),
  (12, 1, 4000, 2, 0.649825, 0.0),
  (12, 2, 4000, 2, 0.649825, 0.0),
  (12, 3, 4000, 2, 0.649825, 0.0),
  (12, 4, 4000, 2, 0.649825, 0.0),
  (12, 5, 4000, 2, 0.649825, 0.0),
  (12, 6, 4000, 2, 0.649825, 0.0),
  (12, 7, 4000, 2, 0.649825, 1.0),
  (13, 0, 4000, 2, 0.69985, 0.0),
  (13, 1, 4000, 2, 0.69985, 0.0),
  (13, 2, 4000, 2, 0.69985, 0.0),
  (13, 3, 4000, 2, 0.69985, 0.0),
  (13, 4, 4000, 2, 0.69985, 0.0),
  (13, 5, 4000, 2, 0.69985, 0.0),
  (13, 6, 4000, 2, 0.69985, 0.0),
  (13, 7, 4000, 2, 0.69985, 1.0),
  (14, 0, 4000, 2, 0.749875, 0.0),
  (14, 1, 4000, 2, 0.749875, 0.0),
  (14, 2, 4000, 2, 0.749875, 0.0),
  (14, 3, 4000, 2, 0.749875, 0.0),
  (14, 4, 4000, 2, 0.749875, 0.0),
  (14, 5, 4000, 2, 0.749875, 0.0),
  (14, 6, 4000, 2, 0.749875, 0.0),
  (14, 7, 4000, 2, 0.749875, 1.0),
  (15, 0, 4000, 2, 0.7999, 0.0),
  (15, 1, 4000, 2, 0.7999, 0.0),
  (15, 2, 4000, 2, 0.7999, 0.0),
  (15, 3, 4000, 2, 0.7999, 0.0),
  (15, 4, 4000, 2, 0.7999, 0.0),
  (15, 5, 4000, 2, 0.7999, 0.0),
  (15, 6, 4000, 2, 0.7999, 0.0),
  (15, 7, 4000, 2, 0.7999, 1.0))
SELECT d.doc_id AS asset_id,
       CAST(kat.sample_rate AS INTEGER) AS sample_rate,
       CAST(kat.n_windows AS INTEGER) AS n_windows,
       CAST(kat.zcr AS DOUBLE) AS zcr,
       CAST(kat.band AS INTEGER) AS band,
       CAST(kat.energy AS DOUBLE) AS energy
FROM documents d JOIN kat ON ((d.doc_id % 16) + 16) % 16 = kat.k
WHERE d.doc_id < 256
"""


@register(
    "llm_audio_spectral",
    oracle=_AUDIO_KAT_ORACLE,
    tags=("llm", "multimodal", "audio"),
)
def llm_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio curation features end to end: per doc_id, synthesize a
    deterministic PCM tone (frequency keyed by id), encode it as a real
    RIFF WAV, decode it back, and compute the spectral fingerprint
    (``multimodal.audio_spectral_features``) — band energies exploded
    to one row per (asset, band) so the output is flat columns."""
    from terra_bonobo_nodes_spark.llm import multimodal

    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < 256)
        .repartition(int(spark.sparkContext.defaultParallelism))
    )

    import pandas as pd  # noqa: F401  (mapInPandas batches)

    def synth(batches):
        import numpy as np
        import pandas as pd

        from terra_bonobo_nodes_spark.llm.codecs import encode_wav

        rate = 4000
        t = np.arange(rate // 2) / rate  # half-second clips
        for pdf in batches:
            ids_, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                freq = 100.0 + (did % 16) * 100.0  # 100..1600 Hz
                tone = np.sin(2 * np.pi * freq * t)[:, None]
                ids_.append(did)
                payloads.append(encode_wav(rate, tone))
            yield pd.DataFrame({"asset_id": ids_, "payload": payloads})

    assets = ids.mapInPandas(synth, "asset_id long, payload binary")
    feats = multimodal.audio_spectral_features(assets, n_bands=8)
    return feats.select(
        "asset_id",
        "sample_rate",
        "n_windows",
        "zcr",
        F.posexplode("band_energy").alias("band", "energy"),
    )


# llm_source_quota_sample: merged into llm_sample_surface (above).


@register(
    "llm_collapse_repeated_tokens",
    oracle=r"""
WITH toks AS (
  -- regex split to mirror the Spark side's split on \s+: a document
  -- with a double space / tab / newline must tokenize identically
  SELECT doc_id,
         unnest(string_split_regex(text, '\s+')) AS w,
         generate_subscripts(string_split_regex(text, '\s+'), 1) AS i
  FROM documents
), kept AS (
  SELECT doc_id, w, i,
         lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS pw
  FROM toks
)
SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS cleaned
FROM kept WHERE pw IS NULL OR w != pw
GROUP BY doc_id
""",
    tags=("llm", "curation"),
)
def llm_collapse_repeated_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document stutter removal
    (``corpus.collapse_repeated_tokens``): consecutive duplicate tokens
    collapse to one. Spark side is a pure column expression — ZERO
    shuffle, no Python; the oracle needs an unnest + window + string_agg
    to express the same thing, which is exactly why the array-lambda
    form is the 100 TB shape."""
    from terra_bonobo_nodes_spark.llm import corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id", corpus.collapse_repeated_tokens("text").alias("cleaned")
    )


@register(
    "llm_embedding_gram",
    oracle="""
WITH flat AS (
  SELECT vec_id,
         unnest(embedding) AS v,
         generate_subscripts(embedding, 1) - 1 AS pos
  FROM embeddings
)
SELECT a.pos AS i, b.pos AS j,
       ROUND(SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)), 4) AS g
FROM flat a JOIN flat b USING (vec_id)
WHERE a.pos <= b.pos
GROUP BY 1, 2
""",
    tags=("llm", "embeddings"),
)
def llm_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X^T X over the embedding corpus (``embeddings.embedding_gram``):
    per-partition numpy partial grams + one tiny-key shuffle — the
    second-order-statistics shape that stays linear at 100 TB (the
    oracle has to explode-and-self-join to say the same thing). Feeds
    driver-side PCA (d x d is driver-sized by construction)."""
    from terra_bonobo_nodes_spark.llm import embeddings as E

    return E.embedding_gram(load_table(spark, sf_dir, "embeddings"))


@register(
    "llm_embedding_outliers",
    oracle="""
WITH flat AS (
  SELECT vec_id, label,
         unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
), cent AS (
  SELECT label, pos,
         CAST(SUM(CAST(v AS DECIMAL(30,10))) / COUNT(*) AS DOUBLE) AS c
  FROM flat GROUP BY 1, 2
), d2 AS (
  SELECT f.vec_id, f.label,
         SUM((CAST(f.v AS DOUBLE) - c.c) * (CAST(f.v AS DOUBLE) - c.c)) AS ss
  FROM flat f JOIN cent c ON f.label = c.label AND f.pos = c.pos
  GROUP BY 1, 2
), ranked AS (
  -- rank on the ROUNDED distance (as the Spark side does): 4dp is what
  -- absorbs cross-engine summation-order noise, so ranking on the raw
  -- value would let 1e-16 drift flip near-tied ranks between engines
  SELECT label, vec_id, ROUND(SQRT(ss), 4) AS dist,
         row_number() OVER (
           PARTITION BY label ORDER BY ROUND(SQRT(ss), 4) DESC, vec_id ASC
         ) AS rank
  FROM d2
)
SELECT label, vec_id, dist, rank FROM ranked WHERE rank <= 3
""",
    tags=("llm", "embeddings", "curation"),
)
def llm_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 farthest vectors from their own label centroid
    (``embeddings.label_centroid_outliers``) — the corrupt/mislabeled
    embedding screen. Centroids are DECIMAL-exact per-dimension means
    that broadcast back into the scan; distances are zip_with/aggregate
    column expressions, JVM-side."""
    from terra_bonobo_nodes_spark.llm import embeddings as E

    return E.label_centroid_outliers(
        load_table(spark, sf_dir, "embeddings"), k=3
    )


# --- round 12: the two curation flagships take their driver rows ------------
#
# Both were pytest-only since round 9 (VERDICT_r09 #1, VERDICT_r11 #1).
# The deterministic seams that make a DuckDB oracle exact:
#
# - semantic dedup: the ``centroids=`` seam takes a LITERAL one-hot
#   codebook (centroid k = unit vector along dimension k). Then the
#   nearest-centroid distance is d_k = |c_k|^2 - 2 v.c_k = 1 - 2*v[k]
#   with every intermediate EXACT in both engines (the BLAS row-dot in
#   ``assign_cells`` sums one nonzero product; the oracle's argmin over
#   d_k reduces to first-max over v[1..4] — same first-index tie-break
#   as np.argmin), so cell assignment is bit-identical, and everything
#   downstream reuses the already-green oracle patterns: cell-blocked
#   cosine pairs (dot_exact left-fold), recursive-CTE components,
#   keep-policy window.
# - quality filter: a PINNED LogRegModel over integer-exact features
#   (chars / tokens / distinct tokens) with dyadic constants — z is the
#   same left-associated IEEE op sequence on both engines, so is_kept
#   (z-sign) is exact and the 4dp-rounded sigmoid absorbs any last-ulp
#   exp() difference.

# llm_semantic_dedup (the one-hot literal-codebook SemDeDup row,
# registered r12) RETIRED round 14: llm_semdedup_kmeans_e2e
# (plans/queries_candidates.py) occupies its slot — same vec_id grain,
# strictly stronger (codebook training, assignment, pairing,
# components and election ALL distributed via kmeans_fixed cells and
# the semantic_dedup(cell_col=) seam, oracle-replayed end to end).
# The centroids= literal-codebook seam itself stays pytest-covered
# (tests/test_semdedup.py).

# Pinned model: dyadic-exact constants near the corpus statistics
# (sf0.01: chars 298+-138, tokens 54+-25, distinct 23.4+-5.5) so scores
# spread across (0,1) and both verdicts occur. 24.0 is not a power of
# two but division rounds identically (IEEE) on both engines; all other
# constants are exactly representable.
_QF_MODEL = dict(
    feature_cols=("f_chars", "f_tokens", "f_distinct"),
    weights=(1.25, -0.75, 0.5),
    bias=-0.25,
    means=(256.0, 48.0, 24.0),
    stds=(128.0, 32.0, 8.0),
)


def _quality_filter_oracle() -> str:
    from terra_bonobo_nodes_spark.llm.text import readability_sql

    m = _QF_MODEL
    terms = " + ".join(
        f"({w!r}) * ((f.{c} - {mu!r}) / {s!r})"
        for c, w, mu, s in zip(
            m["feature_cols"], m["weights"], m["means"], m["stds"]
        )
    )
    z = f"({m['bias']!r} + {terms})"
    return f"""
WITH f AS (
  SELECT doc_id,
         CAST(n_chars AS DOUBLE) AS f_chars,
         CAST(len({TOKS_SQL}) AS DOUBLE) AS f_tokens,
         CAST(len(list_distinct({TOKS_SQL})) AS DOUBLE) AS f_distinct
  FROM documents),
r AS (SELECT doc_id, {readability_sql('text')} FROM documents)
SELECT f.doc_id,
       round(1.0 / (1.0 + exp(-{z})), 4) AS quality_prob,
       1.0 / (1.0 + exp(-{z})) >= 0.5 AS is_kept,
       r.r_n_words, r.r_n_sentences, r.r_n_syllables,
       r.r_flesch_milli, r.r_fk_grade_milli
FROM f JOIN r ON r.doc_id = f.doc_id
"""


@register(
    "llm_quality_filter_score",
    oracle=_quality_filter_oracle(),
    headline=True,  # promoted r15; benched since r16 (VERDICT_r15 #4)
    tags=("llm", "text", "curation"),
)
def llm_quality_filter_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned quality filter (``llm/classifier.py``) scoring the
    corpus with a pinned ``LogRegModel``: featurization (integer-exact
    column expressions), standardization, and the sigmoid-of-dot score
    are the production ``score_quality`` path verbatim — training is
    the only stage the pin replaces (iterative, hence not
    SQL-expressible; its gradient math is pytest-pinned). ``is_kept``
    is the ``filter_quality`` predicate at threshold 0.5.

    Widened round 15 (zero-net, same doc grain — absorbing the
    llm_readability_scores candidate): the row also carries the
    Flesch / Flesch-Kincaid readability surface (``llm/text.py::
    readability`` — exact integer milli-points, pure Column, runs at
    scan speed), the too-simple/too-dense signal quality filters read
    next to the learned score."""
    from terra_bonobo_nodes_spark.llm import classifier

    m = classifier.LogRegModel(**_QF_MODEL)
    # spread the single-task scan: the whole scoring battery is a
    # zero-exchange projection, i.e. 100% of its work otherwise runs
    # on one core (guide §2.5; row-wise, partitioning-insensitive)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "n_chars", "text"
        )
    )
    feats = text.readability(docs).select(
        "doc_id",
        F.col("n_chars").cast("double").alias("f_chars"),
        F.size(text.tokens("text")).cast("double").alias("f_tokens"),
        F.size(F.array_distinct(text.tokens("text")))
        .cast("double")
        .alias("f_distinct"),
        "r_n_words",
        "r_n_sentences",
        "r_n_syllables",
        "r_flesch_milli",
        "r_fk_grade_milli",
    )
    scored = classifier.score_quality(feats, m)
    return scored.select(
        "doc_id",
        F.round("quality_prob", 4).alias("quality_prob"),
        (F.col("quality_prob") >= 0.5).alias("is_kept"),
        "r_n_words",
        "r_n_sentences",
        "r_n_syllables",
        "r_flesch_milli",
        "r_fk_grade_milli",
    )

"""Crawl-curation driver rows: registered promotions + the candidate queue.

ROUND-13 promoted llm_url_dedup_groups, llm_line_dedup,
llm_gopher_rules, llm_c4_line_filter, llm_blocked_hosts. ROUND-14
promoted llm_semdedup_kmeans_e2e (into llm_semantic_dedup's slot),
llm_host_quality_report (widened with HITS — all four graph signals in
one slot), s12_warc_wet_roundtrip, llm_link_graph_rank,
llm_source_rule_yield, widened llm_blocked_hosts with the robots
verdict, and folded word-LM cross-entropy into queries_llm's
llm_lm_entropy_surface; the subsumed standalone candidates
(pagerank/trustrank/hits, robots, word-LM) were removed — their
operators stay pinned by tests/test_graph.py, test_robots.py,
test_lm.py.

The remaining CANDIDATES-dict rows are the round-15 queue — the
authoritative count and promotion arithmetic live in the registry
ledger, not here (this docstring went stale twice enumerating them).
Deferred entries stay complete (spark_fn, oracle) pairs pinned green
against DuckDB by tests/test_candidates_oracle.py under the driver's
exact compare contract — at sf0.001 every suite run and at
sf0.01/sf0.1 during authoring — and pass the registered queries'
empty-tables sweep, so each future promotion stays a registration
edit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm import (
    fuzzy,
    graph,
    hashing,
    kmeans,
    pq,
    selfdedup,
    similarity,
    text,
)
from terra_bonobo_nodes_spark.plans import queries_llm
from terra_bonobo_nodes_spark.llm.urls import canonical_url_sql, url_dedup_groups
from terra_bonobo_nodes_spark.plans.queries_geo import (
    ELL_TILES_SQL,
    ELLS_SQL,
    RECTS_SQL,
    TILES_SQL,
)
from terra_bonobo_nodes_spark.plans.queries_llm import TOKS_SQL
from terra_bonobo_nodes_spark.plans.registry import register
from terra_bonobo_nodes_spark.tables import load_table, spread_small_scan

# --- llm_url_dedup_groups ---------------------------------------------------

# Deterministic URL synthesis over documents: 4 presentation variants
# per logical page (doc_id mod 13 is the page; 13 is coprime to the 4-way
# variant selector, so every page sees every variant), all collapsing to one
# canonical key — exercises www/default-port/dup-slash/trailing-slash
# strip, tracking-param removal, param sort and fragment drop. The
# expression uses only cross-engine exact string ops.
_URL_VARIANTS_SPARK = (
    "CASE pmod(doc_id, 4) "
    "WHEN 0 THEN concat('https://www.example.com:443/d//', cast(pmod(doc_id, 13) as string), '/?utm_source=feed#frag') "
    "WHEN 1 THEN concat('https://example.com/d/', cast(pmod(doc_id, 13) as string), '?b=2&a=1') "
    "WHEN 2 THEN concat('https://example.com/d/', cast(pmod(doc_id, 13) as string), '/?a=1&b=2&gclid=x') "
    "ELSE concat('https://EXAMPLE.com/d/', cast(pmod(doc_id, 13) as string)) END"
)
_URL_VARIANTS_DUCK = (
    "CASE (doc_id % 4) "
    "WHEN 0 THEN concat('https://www.example.com:443/d//', cast(doc_id % 13 as varchar), '/?utm_source=feed#frag') "
    "WHEN 1 THEN concat('https://example.com/d/', cast(doc_id % 13 as varchar), '?b=2&a=1') "
    "WHEN 2 THEN concat('https://example.com/d/', cast(doc_id % 13 as varchar), '/?a=1&b=2&gclid=x') "
    "ELSE concat('https://EXAMPLE.com/d/', cast(doc_id % 13 as varchar)) END"
)


URL_DEDUP_ORACLE = f"""
WITH u AS (
  SELECT doc_id, {_URL_VARIANTS_DUCK} AS url FROM documents
), k AS (
  SELECT doc_id, {canonical_url_sql('url')} AS url_key FROM u
)
SELECT url_key, min(doc_id) AS keep_doc_id,
       CAST(count(*) AS BIGINT) AS n_dups
FROM k GROUP BY url_key
"""


@register(
    "llm_url_dedup_groups",
    oracle=URL_DEDUP_ORACLE,
    headline=True,
    tags=("llm", "curation", "urls"),
)
def llm_url_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed dedup (llm/urls.py::canonical_url + url_dedup_groups):
    pure-Column canonicalizer — zero Python, zero exchanges before the
    one groupBy on the canonical key — over a synthesized 4-variant URL
    projection (www/default-port/dup-slash/trailing-slash strip,
    tracking-param removal, param sort, fragment drop all exercised).
    Promoted round 13 (authored+verified round 12)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = docs.select("doc_id", F.expr(_URL_VARIANTS_SPARK).alias("url"))
    grouped = url_dedup_groups(urls, url_col="url", id_col="doc_id")
    return grouped.select("url_key", "keep_doc_id", "n_dups")

# --- llm_gopher_rules -------------------------------------------------------

_STOPS = ", ".join(f"'{w}'" for w in text.GOPHER_STOPWORDS)

# Every intermediate is an exact integer or an exact-operand double
# division, so the flag comparisons are bit-identical cross-engine
# (the llm_quality_score precedent); only the surfaced mean rounds.
GOPHER_ORACLE = f"""
WITH t0 AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
), t AS (
  SELECT doc_id, text, {TOKS_SQL} AS toks,
         list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                     l -> l <> '') AS lines
  FROM t0
), m AS (
  SELECT doc_id, text, toks, lines,
         CAST(len(toks) AS DOUBLE) AS n,
         CAST(len(lines) AS DOUBLE) AS n_lines,
         CASE WHEN len(toks) > 0
              THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
              ELSE 0.0 END AS mean_wl,
         CASE WHEN len(toks) > 0
              THEN CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
              ELSE 0.0 END AS hash_ratio,
         CASE WHEN len(toks) > 0
              THEN CAST(len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
              ELSE 0.0 END AS ellipsis_ratio,
         CASE WHEN len(lines) > 0
              THEN CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) AS DOUBLE) / CAST(len(lines) AS DOUBLE)
              ELSE 0.0 END AS bullet_ratio,
         CASE WHEN len(lines) > 0
              THEN CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$'))) AS DOUBLE) / CAST(len(lines) AS DOUBLE)
              ELSE 0.0 END AS ell_line_ratio,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
              ELSE 0.0 END AS alpha_ratio,
         len(list_filter([{_STOPS}], w -> list_contains(toks, w))) AS stop_hits
  FROM t
), f AS (
  SELECT doc_id,
         CAST(n AS BIGINT) AS g_n_words,
         round(mean_wl, 6) AS g_mean_word_len,
         (n < 50 OR n > 100000) AS g_flag_n_words,
         (mean_wl < 3.0 OR mean_wl > 10.0) AS g_flag_mean_word_len,
         (hash_ratio > 0.1 OR ellipsis_ratio > 0.1) AS g_flag_symbol_ratio,
         (bullet_ratio > 0.9) AS g_flag_bullet_lines,
         (ell_line_ratio > 0.3) AS g_flag_ellipsis_lines,
         (alpha_ratio < 0.8) AS g_flag_alpha_words,
         (stop_hits < 2) AS g_flag_stopwords
  FROM m
)
SELECT *,
       NOT (g_flag_n_words OR g_flag_mean_word_len OR g_flag_symbol_ratio
            OR g_flag_bullet_lines OR g_flag_ellipsis_lines
            OR g_flag_alpha_words OR g_flag_stopwords) AS g_keep
FROM f
"""


@register(
    "llm_gopher_rules",
    oracle=GOPHER_ORACLE,
    headline=True,
    tags=("llm", "curation", "quality"),
)
def llm_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule battery (llm/text.py::gopher_rules): per-rule
    violation flags + keep verdict at paper-default thresholds, pure
    Column expressions — zero exchanges, zero Python. Promoted round 13
    (authored+verified round 12; hypothesis-swept vs an independent
    Python reference in tests/test_gopher.py)."""
    # NOT spread (measured both ways r17): the exec saving (~0.4s) did
    # not beat the repartition cost, and the row's zero-exchange plan
    # shape is pinned (test_plan_audit) as its 100 TB statement
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = text.gopher_rules(docs)
    return out.select(
        "doc_id",
        "g_n_words",
        F.round("g_mean_word_len", 6).alias("g_mean_word_len"),
        "g_flag_n_words",
        "g_flag_mean_word_len",
        "g_flag_symbol_ratio",
        "g_flag_bullet_lines",
        "g_flag_ellipsis_lines",
        "g_flag_alpha_words",
        "g_flag_stopwords",
        "g_keep",
    )


# --- llm_c4_line_filter -----------------------------------------------------

_C4_PHRASES_SQL = " AND ".join(
    f"NOT contains(lower(l), '{p}')"
    for p in (
        "javascript",
        "terms of use",
        "privacy policy",
        "cookie policy",
        "uses cookies",
        "use of cookies",
        "use cookies",
    )
)

C4_ORACLE = f"""
WITH t AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
), l AS (
  SELECT doc_id, text,
         list_filter(
           list_transform(string_split(text, chr(10)),
                          l -> trim(regexp_replace(l, '\\[[0-9]*\\]|\\[edit\\]|\\[citation needed\\]', '', 'g'))),
           l -> l <> '') AS lines
  FROM t
), k AS (
  SELECT doc_id, text, lines,
         list_filter(lines,
           l -> regexp_matches(l, '[.!?"]$')
                AND len(regexp_extract_all(l, '\\S+')) >= 5
                AND {_C4_PHRASES_SQL}) AS kept
  FROM l
)
SELECT doc_id,
       coalesce(array_to_string(kept, chr(10)), '') AS c4_text,
       CAST(len(lines) AS BIGINT) AS c4_n_lines,
       CAST(len(kept) AS BIGINT) AS c4_n_lines_kept,
       contains(lower(text), 'lorem ipsum') AS c4_flag_lorem_ipsum,
       contains(text, '{{') AS c4_flag_curly_brace,
       (len(kept) < 3) AS c4_flag_min_lines,
       NOT (contains(lower(text), 'lorem ipsum') OR contains(text, '{{')
            OR len(kept) < 3) AS c4_keep
FROM k
"""


@register(
    "llm_c4_line_filter",
    oracle=C4_ORACLE,
    headline=True,
    tags=("llm", "curation", "quality"),
)
def llm_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 line cleaning (llm/scrub.py::c4_line_filter): citation-
    marker strip, terminal-punctuation / min-word line rules, page
    flags (lorem ipsum, curly brace, min kept lines) — pure Column,
    zero exchanges. Promoted round 13 (authored+verified round 12;
    hypothesis-swept vs a pure-Python reference in tests/test_c4.py)."""
    from terra_bonobo_nodes_spark.llm.scrub import c4_line_filter

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return c4_line_filter(docs).select(
        "doc_id",
        "c4_text",
        "c4_n_lines",
        "c4_n_lines_kept",
        "c4_flag_lorem_ipsum",
        "c4_flag_curly_brace",
        "c4_flag_min_lines",
        "c4_keep",
    )


# --- llm_blocked_hosts ------------------------------------------------------

# Host synthesis: 5 host shapes over a 2-domain blocklist — exact
# match, subdomain match, deep-subdomain match, a clean host, and the
# no-label-boundary trap ('notbad.com' must NOT match 'bad.com').
_HOST_SPARK = (
    "CASE pmod(doc_id, 5) "
    "WHEN 0 THEN 'bad.com' WHEN 1 THEN 'spam.bad.com' "
    "WHEN 2 THEN 'cdn.assets.bad.com' WHEN 3 THEN 'notbad.com' "
    "ELSE 'good.org' END"
)
_HOST_DUCK = _HOST_SPARK.replace("pmod(doc_id, 5)", "(doc_id % 5)")


BLOCKED_HOSTS_ORACLE = f"""
WITH u AS (
  SELECT doc_id, {_HOST_DUCK} AS host FROM documents
), bl AS (
  SELECT * FROM (VALUES ('bad.com'), ('ads.net')) AS b(domain)
)
SELECT doc_id,
       EXISTS (SELECT 1 FROM bl
               WHERE u.host = bl.domain
                  OR u.host LIKE '%.' || bl.domain) AS host_blocked
FROM u
"""


# WIDENED round 14 (zero-net promotion of llm_robots_filter, the j1
# broadcast+grid precedent): the row is the doc-grain URL-HYGIENE
# surface — flag_blocked_hosts' verdict over the 5-shape blocklist
# synthesis AND flag_robots_disallowed's RFC 9309 verdict over the
# robots candidate's 101-host/5-path synthesis, one row per document.
# Each operator keeps exactly the coverage its standalone row had; the
# oracle composes both original oracles as derived tables.
_URL_HYGIENE_ORACLE_TMPL = """
SELECT b.doc_id, b.host_blocked, r.allowed AS robots_allowed
FROM ({blocked}) b JOIN ({robots}) r USING (doc_id)
"""


def _url_hygiene_oracle() -> str:
    return _URL_HYGIENE_ORACLE_TMPL.format(
        blocked=BLOCKED_HOSTS_ORACLE, robots=ROBOTS_ORACLE
    )


def llm_blocked_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist (llm/urls.py::flag_blocked_hosts): registrable-
    suffix match via exploded (id, suffix) broadcast semi-join — wide
    document rows never flow through the explode, so the plan holds at
    crawl scale. The 5 synthesized host shapes include the
    no-label-boundary trap ('notbad.com' must NOT match 'bad.com').
    Promoted round 13 (authored+verified round 12); widened round 14
    with the robots.txt compliance verdict (llm/robots.py — parser
    mapInPandas over KiB host snapshots, broadcast-fold matcher, zero
    document-table shuffle)."""
    from terra_bonobo_nodes_spark.llm.urls import flag_blocked_hosts

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://"), F.expr(_HOST_SPARK), F.lit("/p")).alias("url"),
    )
    bl = spark.createDataFrame([("bad.com",), ("ads.net",)], "domain string")
    blocked = flag_blocked_hosts(urls, bl).select("doc_id", "host_blocked")
    robots = _robots_verdicts(spark, sf_dir)
    return blocked.join(robots, "doc_id").select(
        "doc_id", "host_blocked", F.col("allowed").alias("robots_allowed")
    )

# --- llm_source_rule_yield: RETIRED round 15 (subsumed) ----------------------
# The per-source per-rule yield report (registered round 14) was a
# strict SUBSET of the widened curation funnel: every n_docs /
# n_c4_keep / n_gopher_keep / per-rule violation count appears
# verbatim on llm_source_rule_funnel's source-grain row (where n_docs
# = n_raw, n_gopher_keep = n_gopher), which ADDs the sequential
# retention (gopher AND c4 -> exact-dedup survivors) and raw/final
# token mass. One report instead of two at the same grain; the slot
# registers the funnel (r15 ledger item 3).

# --- llm_line_dedup ---------------------------------------------------------
# The sf testdata documents are single-line, so the row synthesizes the
# crawl shape line dedup exists for (the URL-variants precedent): a
# 7-way shared section header and a corpus-wide footer around each
# document's own (unique) text. Line dedup must keep each header once
# (at its lowest doc_id), the footer once, and every unique body line.


LINE_DEDUP_ORACLE = """
WITH s AS (
  SELECT doc_id,
         concat('Section ', CAST(doc_id % 7 AS VARCHAR), chr(10),
                coalesce(text, ''), chr(10),
                'Copyright footer - all rights reserved.') AS text
  FROM documents
), t AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS lines
  FROM s
), ex AS (
  SELECT doc_id, unnest(lines) AS line,
         unnest(range(1, len(lines) + 1)) AS pos
  FROM t
), r AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM ex
), agg AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS txt,
         count(*) AS k
  FROM r WHERE rn = 1 GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(agg.txt, '') AS ld_text,
       CAST(len(t.lines) AS BIGINT) AS ld_n_lines,
       CAST(coalesce(agg.k, 0) AS BIGINT) AS ld_n_lines_kept
FROM t LEFT JOIN agg USING (doc_id)
"""


@register(
    "llm_line_dedup",
    oracle=LINE_DEDUP_ORACLE,
    headline=True,
    tags=("llm", "curation", "dedup"),
)
def llm_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet corpus-level first-occurrence line dedup
    (llm/scrub.py::line_dedup): the combinable min(struct(id, pos))
    groupBy design — map-side partials collapse per-partition
    duplicates, no global window, no per-key single-task sort, and the
    winner predicate folds into the join-back as a second equi-key so
    mega-duplicated lines never form a hot join partition (r13 skew
    sweep at 500K docs: PLANS.md). Promoted round 13 (authored+verified
    round 12; hypothesis-swept vs a pure-Python reference in
    tests/test_line_dedup.py)."""
    from terra_bonobo_nodes_spark.llm.scrub import line_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.lit("Section "),
            F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
            F.lit("\n"),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("\nCopyright footer - all rights reserved."),
        ).alias("text"),
    )
    return line_dedup(synth).select(
        "doc_id", "ld_text", "ld_n_lines", "ld_n_lines_kept"
    )


# llm_perplexity_buckets ABSORBED late round 17: the due
# llm_lm_entropy_surface widened with the candidate's distinctive
# output, the CCNet head/middle/tail ppl_bucket column (the entropy
# it buckets IS that row's char leg; plans/queries_llm.py carries the
# oracle text verbatim as _PPL_LEG_SQL). text.perplexity_buckets and
# its pytest coverage unchanged.


# --- llm_dsir_logweights ------------------------------------------------
# DSIR importance weights with the English slice of documents as the
# target sample: every raw doc scored by how en-like its hashed
# unigram+bigram profile is. The oracle replays the identical hashed
# buckets (hash32 md5 mirror), add-one smoothing, and the
# DECIMAL(20,6)-quantized log ratios, so the weights are exact.

_DSIR_BUCKETS = 10_000


def llm_dsir_logweights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from terra_bonobo_nodes_spark.llm.corpus import dsir_logweights

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    raw = docs.select("doc_id", "text")
    target = docs.where(F.col("lang") == "en").select("doc_id", "text")
    out = dsir_logweights(raw, target, buckets=_DSIR_BUCKETS)
    return out.select("doc_id", "dsir_n_features", "dsir_logweight")


DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, {TOKS_SQL} AS t FROM documents
), feats AS (
  SELECT doc_id, lang,
         unnest(list_concat(t,
           list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                          i -> t[i] || ' ' || t[i + 1]))) AS f
  FROM toks
), fb AS (
  SELECT doc_id, lang,
         (('0x' || substr(md5(f), 1, 8))::BIGINT % {_DSIR_BUCKETS}) AS b
  FROM feats
), fc AS (
  SELECT doc_id, b, count(*) AS c FROM fb GROUP BY 1, 2
), q AS (
  SELECT b, sum(c) AS qc FROM fc GROUP BY 1
), tgt AS (
  SELECT b, count(*) AS tc FROM fb WHERE lang = 'en' GROUP BY 1
), model AS (
  SELECT coalesce(q.b, tgt.b) AS b,
         coalesce(qc, 0) AS qc, coalesce(tc, 0) AS tc
  FROM q FULL OUTER JOIN tgt ON q.b = tgt.b
), tot AS (
  SELECT sum(qc) AS qt, sum(tc) AS tt FROM model
), lr AS (
  SELECT b,
         CAST(ln(CAST(tc + 1 AS DOUBLE) / CAST(tt + {_DSIR_BUCKETS} AS DOUBLE))
              AS DECIMAL(20,6))
       - CAST(ln(CAST(qc + 1 AS DOUBLE) / CAST(qt + {_DSIR_BUCKETS} AS DOUBLE))
              AS DECIMAL(20,6)) AS lr
  FROM model CROSS JOIN tot
), sc AS (
  SELECT fc.doc_id, sum(c) AS m, sum(lr * c) AS lw
  FROM fc JOIN lr ON lr.b = fc.b GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(m, 0) AS BIGINT) AS dsir_n_features,
       CAST(coalesce(lw, 0) AS DOUBLE) AS dsir_logweight
FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
"""

# llm_bloom_decontaminate ABSORBED late round 17: the due
# llm_decontamination_surface widened with the Bloom screen as its
# third FULL-joined leg (plans/queries_llm.py — fn, oracle, and the
# _BLOOM_M/K/N constants moved there verbatim; the anchor-leg
# capacity-partner route, zero rotation cost). llm/bloom.py and
# tests/test_bloom.py unchanged.


# --- llm_cms_token_freq (authored round 13, r14 candidate) --------------
# Count-Min Sketch heavy hitters (llm/sketch.py): the bounded-memory
# token-frequency primitive (constant d x w counters, mergeable by
# addition, never undercounts). The row builds the sketch distributed,
# takes the exact top-25 tokens (TakeOrdered), and surfaces
# exact_count + cms_estimate + the never_undercounts guarantee — every
# quantity an exact BIGINT, so the oracle replays build AND estimate
# bit-for-bit (the repo's cleanest oracle class: zero floats).

_CMS_D, _CMS_W, _CMS_TOP = 4, 1 << 12, 25


def llm_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from terra_bonobo_nodes_spark.llm.sketch import cms_build, cms_estimate

    docs = load_table(spark, sf_dir, "documents").select(
        F.coalesce("text", F.lit("")).alias("text")
    )
    toks = docs.select(F.explode(text.tokens("text")).alias("token"))
    counters = cms_build(toks, token_col="token", d=_CMS_D, w=_CMS_W)
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), F.col("token").asc())
        .limit(_CMS_TOP)
    )
    est = cms_estimate("token", counters)
    return top.select(
        "token",
        "exact_count",
        est.alias("cms_estimate"),
        (est >= F.col("exact_count")).alias("never_undercounts"),
    )


def _cms_oracle() -> str:
    from terra_bonobo_nodes_spark.llm.sketch import position_sql

    cells_union = "\nUNION ALL ".join(
        f"SELECT {i} AS i, {position_sql('token', i, _CMS_W)} AS p FROM toks"
        for i in range(_CMS_D)
    )
    joins = "\n".join(
        f"JOIN cells c{i} ON c{i}.i = {i} AND c{i}.p = {position_sql('t.token', i, _CMS_W)}"
        for i in range(_CMS_D)
    )
    least = ", ".join(f"c{i}.n" for i in range(_CMS_D))
    return f"""
WITH toks AS (
  SELECT unnest({TOKS_SQL}) AS token
  FROM (SELECT coalesce(text, '') AS text FROM documents)
), tf AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_count
  FROM toks GROUP BY 1
), top AS (
  SELECT token, exact_count FROM tf
  ORDER BY exact_count DESC, token ASC LIMIT {_CMS_TOP}
), cells AS (
  SELECT i, p, CAST(count(*) AS BIGINT) AS n
  FROM ({cells_union}) GROUP BY 1, 2
)
SELECT t.token, t.exact_count,
       least({least}) AS cms_estimate,
       least({least}) >= t.exact_count AS never_undercounts
FROM top t
{joins}
"""


CMS_ORACLE = _cms_oracle()


# --- llm_kmeans_fixed_cells (authored round 13, r14 candidate #8) ------------
# Distributed Lloyd's k-means over the embeddings table with the
# fixed-point BIGINT design (llm/kmeans.py): 8 clusters, 3 iterations,
# first-8-by-id init, 2^16 exponent-shift quantization. This is the
# REAL iterative clustering the semdedup row pins via its codebook
# seam — assignment scan, argmin, and centroid update all run
# distributed, and the oracle replays the identical integer iterations
# as an unrolled CTE chain.

_KM_K, _KM_ITERS, _KM_DIM = 8, 3, 64

KMEANS_ORACLE = kmeans.kmeans_fixed_sql(
    "SELECT vec_id, embedding FROM embeddings",
    k=_KM_K,
    iterations=_KM_ITERS,
    dim=_KM_DIM,
)


def llm_kmeans_fixed_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point distributed k-means (llm/kmeans.py::kmeans_fixed):
    per iteration one k-row broadcast assignment join + combinable
    min-struct argmin + (cluster, dim)-keyed integer centroid update;
    no float addition anywhere, so the run is bit-identical on any
    engine or partitioning. Hypothesis-swept vs an independent Python
    reference and mirrored in DuckDB (tests/test_kmeans.py)."""
    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans.kmeans_fixed(vecs, k=_KM_K, iterations=_KM_ITERS).select(
        "vec_id", "cluster", "dist"
    )


# --- llm_fuzzy_title_pairs (authored round 13, r14 candidate #12) ------------
# Edit-distance similarity join over synthesized record titles: groups
# of 3 docs share a numeric base title with per-variant typos (append,
# trailing char), so within-group pairs sit at distance 1-2 and
# adjacent group numbers contribute digit-typo pairs. Runs the CAPPED
# production form (block_cap drops stop-gram blocks like 'rec'
# deterministically — mirrored in SQL by the same count filter).

_FZ_CAP, _FZ_D = 256, 2
_FZ_TITLE_SPARK = (
    "concat(cast(doc_id div 3 as string), ' rec', "
    "CASE pmod(doc_id, 3) WHEN 0 THEN '' WHEN 1 THEN ' x' ELSE 'q' END)"
)
_FZ_TITLE_DUCK = (
    "concat(cast(doc_id // 3 as varchar), ' rec', "
    "CASE (doc_id % 3) WHEN 0 THEN '' WHEN 1 THEN ' x' ELSE 'q' END)"
)

FUZZY_ORACLE = fuzzy.edit_distance_pairs_sql(
    f"SELECT doc_id, {_FZ_TITLE_DUCK} AS text FROM documents",
    max_dist=_FZ_D,
    block_cap=_FZ_CAP,
)


def llm_fuzzy_title_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join (llm/fuzzy.py
    ::edit_distance_pairs): tiered q-gram/char/tiny blocking with a
    PROVEN completeness guarantee (brute-force hypothesis sweep,
    tests/test_fuzzy.py), deterministic block cap for stop-gram hot
    blocks, exact JVM levenshtein inside blocks only — never a
    cartesian. The record-linkage operator."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    titled = docs.select("doc_id", F.expr(_FZ_TITLE_SPARK).alias("text"))
    return fuzzy.edit_distance_pairs(
        titled, max_dist=_FZ_D, block_cap=_FZ_CAP
    ).select("id_a", "id_b", "dist")


# --- s12_warc_wet_roundtrip (authored round 13, r14 candidate #10) -----------
# WARC/WET ingestion proven end-to-end IN-PLAN: documents pack into
# WET-style conversion records (one WARC blob per Arrow batch,
# executor-side — no files, no driver collect), warc_reader explodes
# the blobs back to records, and (doc_id, text) is recovered exactly
# from the Target-URI + utf-8 payload. The Common Crawl dump-ingestion
# step, same verification shape as s11's XML roundtrip and e5's
# shapefile codec.

WARC_ORACLE = """
SELECT doc_id, coalesce(text, '') AS text FROM documents
"""


@register(
    "s12_warc_wet_roundtrip",
    oracle=WARC_ORACLE,
    headline=True,
    tags=("source", "warc", "ingestion"),
)
def s12_warc_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET conversion-record roundtrip (sources/warc_codec.py +
    sources/warc.py::warc_reader): Content-Length-driven from-spec
    parsing (payloads with CRLFCRLF pinned), Arrow-batched explode,
    payload bytes exact. Hypothesis-swept codec; reader pinned in
    tests/test_warc.py."""
    from collections.abc import Iterator

    import pandas as pd

    from terra_bonobo_nodes_spark.sources.warc import warc_reader
    from terra_bonobo_nodes_spark.sources.warc_codec import write_warc_records

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            blob = write_warc_records(
                [
                    {
                        "headers": {
                            "WARC-Type": "conversion",
                            "WARC-Target-URI": f"http://corpus.example/doc/{i}",
                            "WARC-Date": "2026-08-15T00:00:00Z",
                            "Content-Type": "text/plain",
                        },
                        "payload": t.encode("utf-8"),
                    }
                    for i, t in zip(pdf["doc_id"], pdf["text"])
                ]
            )
            yield pd.DataFrame({"content": [blob]})

    packed = docs.mapInPandas(pack, "content binary")
    records = warc_reader(packed)
    return records.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        F.decode("payload", "UTF-8").alias("text"),
    )


# --- llm_semdedup_kmeans_e2e (REGISTERED round 14, in
# llm_semantic_dedup's slot — same vec_id grain, strictly stronger) ----------
# SemDeDup with ZERO pins: the retired llm_semantic_dedup row pinned
# its codebook (one-hot seam) because float nearest-centroid argmin is
# not engine-exact; here the cells come from kmeans_fixed's BIGINT
# iterations instead, so the ENTIRE pipeline — codebook training, cell
# assignment, cell-blocked cosine pairs, connected components,
# survivor election — is computed distributed AND replayed exactly by
# the oracle (kmeans CTE chain + the retired row's proven
# pairs/components/election SQL). The row drives the PRODUCTION
# operator body via semantic_dedup(cell_col=...) — llm/semdedup.py's
# pairing/components/election code, not a re-composition.

_SDK_K, _SDK_ITERS = 8, 3

_SDK_CTES = kmeans.kmeans_fixed_ctes(
    "SELECT vec_id, embedding FROM embeddings",
    k=_SDK_K,
    iterations=_SDK_ITERS,
    dim=queries_llm.EMB_DIM,
)

SEMDEDUP_KMEANS_ORACLE = f"""
WITH RECURSIVE
{_SDK_CTES},
e AS (SELECT vec_id, {queries_llm._CAST_EMB} AS v FROM embeddings),
cells AS (
  SELECT e.vec_id, e.v, CAST(a{_SDK_ITERS}.cl AS INT) AS cell
  FROM e JOIN a{_SDK_ITERS} ON e.vec_id = a{_SDK_ITERS}.id),
n AS (SELECT vec_id, v, cell, {similarity.norm_sql('v')} AS nrm FROM cells),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {similarity.dot_exact_sql('a.v', 'b.v')} / (a.nrm * b.nrm)
        >= {queries_llm._COS_THRESHOLD}),
edges AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
comp AS (SELECT src AS vec_id, least(src, min(dst)) AS component_id
         FROM reach GROUP BY src),
fullv AS (
  SELECT c.vec_id, c.cell,
         coalesce(cp.component_id, c.vec_id) AS component_id
  FROM cells c LEFT JOIN comp cp USING (vec_id)),
r AS (
  SELECT vec_id, cell, component_id,
         row_number() OVER (PARTITION BY component_id
                            ORDER BY vec_id ASC) AS rn
  FROM fullv)
SELECT vec_id, cell, component_id, rn = 1 AS is_kept FROM r
"""


@register(
    "llm_semdedup_kmeans_e2e",
    oracle=SEMDEDUP_KMEANS_ORACLE,
    tags=("llm", "dedup", "embedding", "curation"),
)
def llm_semdedup_kmeans_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end with a COMPUTED codebook: kmeans_fixed
    BIGINT cells (llm/kmeans.py) feed semantic_dedup(cell_col=...) —
    the production operator's cell-blocked exact cosine pairs ->
    pointer-jumping connected components -> smallest-id survivor per
    component. No pinned centroids anywhere; every stage distributed
    and oracle-replayed."""
    from terra_bonobo_nodes_spark.llm.semdedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cells = kmeans.kmeans_fixed(emb, k=_SDK_K, iterations=_SDK_ITERS).select(
        "vec_id", F.col("cluster").cast("int").alias("cell")
    )
    assigned = emb.join(cells, "vec_id")
    return semantic_dedup(
        assigned,
        id_col="vec_id",
        vec_col="embedding",
        threshold=queries_llm._COS_THRESHOLD,
        cell_col="cell",
    ).select("vec_id", "cell", "component_id", "is_kept")


# --- llm_exact_substring_spans (authored round 13, r14 candidate #6) ---------
# ExactSubstr self-dedup (Lee et al. 2022) over documents with planted
# duplication: ~2/7 of docs share a 12-token boilerplate tail (cross-
# document spans), docs with doc_id % 11 == 0 carry an internally
# repeated phrase (within-document duplication), and the natural
# small-vocabulary corpus supplies background duplicated 5-grams. All
# synthesis is exact integer/string arithmetic, cross-engine.

_SD_K = 5
_SD_BOILER = (
    " subscribe to our newsletter today for free daily updates and special offers"
)
_SD_REPEAT = " please visit our site now please visit our site now"
_SD_SYNTH_SPARK = (
    "concat(coalesce(text, ''), "
    f"CASE WHEN pmod(doc_id, 7) < 2 THEN '{_SD_BOILER}' ELSE '' END, "
    f"CASE WHEN pmod(doc_id, 11) = 0 THEN '{_SD_REPEAT}' ELSE '' END)"
)
_SD_SYNTH_DUCK = _SD_SYNTH_SPARK.replace("pmod(doc_id, 7)", "(doc_id % 7)").replace(
    "pmod(doc_id, 11)", "(doc_id % 11)"
)

SELF_DEDUP_ORACLE = selfdedup.self_dedup_report_sql(
    "text",
    f"SELECT doc_id, {_SD_SYNTH_DUCK} AS text FROM documents",
    k=_SD_K,
)


@register(
    "llm_exact_substring_spans",
    oracle=SELF_DEDUP_ORACLE,
    tags=("llm", "dedup", "spans"),
)
def llm_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style self-dedup report
    (llm/selfdedup.py::self_dedup_report): corpus-wide duplicated
    k-gram detection (combinable gram-count groupBy, left-semi join
    back), per-document gaps-and-islands span merge (window bounded by
    one document's length), and the cut-every-occurrence clean text.
    The span-grain complement to doc-grain MinHash/exact dedup and
    line-grain CCNet dedup. Hypothesis-swept vs an independent Python
    reference and mirrored in DuckDB (tests/test_selfdedup.py)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    synth = docs.select("doc_id", F.expr(_SD_SYNTH_SPARK).alias("text"))
    return selfdedup.self_dedup_report(synth, k=_SD_K).select(
        "doc_id",
        "n_toks",
        "n_dup_grams",
        "n_spans",
        "dup_toks",
        "dup_frac",
        "clean_text",
        "n_kept_toks",
    )


# --- llm_host_pagerank (authored round 13, r14 candidate #7) -----------------
# Fixed-point PageRank over a synthesized 101-host link graph: every
# document's host (doc_id mod 101) emits two out-links to affine-mapped
# hosts (7x+3 and 13x+5 mod 101 — both coprime maps, so in-link counts
# are uniform-ish with heavy multi-edges at every (src, dst) pair,
# exercising per-occurrence multi-edge counting). All arithmetic is
# BIGINT; the oracle unrolls the same 5 integer iterations.

_PR_EDGES_DUCK = (
    "SELECT doc_id % 101 AS src, (doc_id * 7 + 3) % 101 AS dst FROM documents "
    "UNION ALL "
    "SELECT doc_id % 101 AS src, (doc_id * 13 + 5) % 101 AS dst FROM documents"
)

# llm_host_pagerank / llm_host_trustrank standalone candidates REMOVED
# round 14: both signals (plus HITS and per-host stats) are driver-
# verified inside the registered llm_host_quality_report, and the
# pipeline-shaped llm_link_graph_rank registration covers extraction ->
# rank end-to-end. The operators stay pinned by tests/test_graph.py.

# TrustRank's trusted seed set: hosts 0-9 — trust reaches only what
# the seeds (transitively) link to; everything outside the reachable
# frontier scores exactly 0.
_TRUST_SEEDS_DUCK = "VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9)"

# --- llm_host_quality_report (authored round 13, r14 candidate #13) ----------
# The capstone composition a curation team actually reads: ONE
# host-grain report joining link authority (plain PageRank), trust
# (seeded TrustRank) and per-host corpus contribution (doc count,
# exact char mass) — every column integer-exact, the two rank chains
# composed in one oracle via pagerank_fixed_ctes(prefix=).

# Distinct-edge cap for the graph chains' driver-local fast path
# (llm/graph.py round-17): 1<<17 pairs =~ a few MB of driver state,
# far above any synthetic fixture and far below any real host graph.
_SG = 1 << 17

HOST_REPORT_ORACLE = f"""
WITH {graph.pagerank_fixed_ctes(_PR_EDGES_DUCK, iterations=5, prefix="pr_")},
{graph.pagerank_fixed_ctes(_PR_EDGES_DUCK, iterations=5,
                           seeds_sql=_TRUST_SEEDS_DUCK, prefix="tr_")},
stats AS (
  SELECT doc_id % 101 AS host, count(*) AS n_docs,
         sum(length(coalesce(text, ''))) AS sum_chars
  FROM documents GROUP BY 1
),
hits AS (
  SELECT node, hub, auth
  FROM ({graph.hits_fixed_sql(_PR_EDGES_DUCK, iterations=5)})
),
{graph.kcore_fixed_ctes(_PR_EDGES_DUCK, k=3, iterations=6)}
SELECT p.node AS host,
       p.rank AS rank,
       t.rank AS trust_rank,
       h.hub AS hub,
       h.auth AS auth,
       kc.in_kcore AS in_3core,
       CAST(coalesce(s.n_docs, 0) AS BIGINT) AS n_docs,
       CAST(coalesce(s.sum_chars, 0) AS BIGINT) AS sum_chars
FROM pr_r5 p
JOIN tr_r5 t ON p.node = t.node
JOIN hits h ON p.node = h.node
JOIN kc_out kc ON p.node = kc.node
LEFT JOIN stats s ON s.host = p.node
"""


# ROUND-16: the registered name moved to the WIDE form below (ledger
# item 1 — + LPA community columns); this base fn stays as the wide
# row's component.
def llm_host_quality_report(
    spark: SparkSession, sf_dir: str, pairs: list | None = None
) -> DataFrame:
    """Host-grain curation report — ALL FIVE link signals in one slot
    (registered round 14): plain PageRank, seeded TrustRank, HITS
    hub/authority (high hub + low authority = the directory/link-farm
    shape in-link counting misses), 3-core membership (Seidman 1983 —
    the connectivity prior: sparse rings and pendant-chain farms peel
    out), joined with per-host document statistics — the per-host
    triage table (authority high / trust zero = link spam; n_docs high
    / trust low = crawl bias). All-integer/boolean columns, id-keyed
    joins, all four fixed-point chains reuse one edge synthesis."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    e1 = docs.select(
        F.expr("pmod(doc_id, 101)").alias("src"),
        F.expr("pmod(doc_id * 7 + 3, 101)").alias("dst"),
    )
    e2 = docs.select(
        F.expr("pmod(doc_id, 101)").alias("src"),
        F.expr("pmod(doc_id * 13 + 5, 101)").alias("dst"),
    )
    edges = e1.union(e2)
    # round 17: the four fixed-point chains take the driver-local fast
    # path on small graphs (bit-identical exact-integer replay; see
    # llm/graph.py) — the ~0.45s/iteration Catalyst setup was ~97% of
    # this row's cost on the 101-node synthetic graph. The guard runs
    # ONCE over the shared edge frame (per-chain guards would each
    # re-aggregate the full edge data at 100 TB); _SG is the
    # distinct-edge bound the driver may hold (a few MB). pairs=None
    # falls back to the unchanged distributed loops.
    if pairs is None:
        pairs = graph.weighted_edge_pairs_if_small(edges, threshold=_SG)
    stats = docs.groupBy(F.expr("pmod(doc_id, 101)").alias("node")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(F.coalesce("text", F.lit("")))).alias("sum_chars"),
    )
    if pairs is not None:
        # all four signals from the one collected pair list, assembled
        # as ONE driver-local frame (r17 optimization: the 4-frame /
        # 3-join form spent ~0.6s of stage dispatch joining data that
        # already sat in Python dicts; values + row set bit-identical
        # — see graph.link_signals_local_frame)
        signals = graph.link_signals_local_frame(
            spark,
            pairs,
            edges.schema["src"].dataType,
            iterations=5,
            seed_set=set(range(10)),
            kcore_k=3,
            kcore_iterations=6,
        ).withColumnRenamed("in_kcore", "in_3core")
        return signals.join(stats, "node", "left").select(
            F.col("node").alias("host"),
            "rank",
            "trust_rank",
            "hub",
            "auth",
            "in_3core",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("sum_chars", F.lit(0)).cast("long").alias("sum_chars"),
        )
    seeds = spark.range(0, 10, 1, 1).select(F.col("id").alias("host"))
    pr = graph.pagerank_fixed(edges, iterations=5, pairs=pairs)
    tr = graph.pagerank_fixed(
        edges, iterations=5, seeds=seeds, pairs=pairs
    ).select(
        "node", F.col("rank").alias("trust_rank")
    )
    ha = graph.hits_fixed(edges, iterations=5, pairs=pairs).select(
        "node", "hub", "auth"
    )
    kc = graph.kcore_fixed(edges, k=3, iterations=6, pairs=pairs).select(
        "node", F.col("in_kcore").alias("in_3core")
    )
    return (
        pr.join(tr, "node")
        .join(ha, "node")
        .join(kc, "node")
        .join(stats, "node", "left")
        .select(
            F.col("node").alias("host"),
            "rank",
            "trust_rank",
            "hub",
            "auth",
            "in_3core",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("sum_chars", F.lit(0)).cast("long").alias("sum_chars"),
        )
    )


# --- llm_corpus_overlap_report (authored round 14 continuation, r15 candidate)
# KMV set operations (llm/distinct.py::kmv_set_ops, Beyer et al. 2007
# §4): pairwise union / Jaccard / intersection ESTIMATES between the
# per-event-type user populations, answered from the k-row sketch
# artifacts alone — the question HLL registers cannot answer and the
# one a curation team asks of two crawl dumps ("how much does dump A
# overlap dump B") without re-reading either. Every surfaced column
# BIGINT (Jaccard stays an integer num/den pair); exact truth columns
# ride along as the verification harness (the approx_distinct_users
# pattern). Pair grain — 5 event types -> 10 pairs at every SF.

_SO_K = 64


def llm_corpus_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event-type pair: KMV union/Jaccard/intersection estimates
    from bottom-64 sketches + the exact truth columns for verification.
    At corpus scale only the sketch path runs — it reads k rows per
    group, never the raw table."""
    from terra_bonobo_nodes_spark.llm import distinct as ds

    ev = load_table(spark, sf_dir, "events")
    ops = ds.kmv_set_ops(
        ds.kmv_sketch(ev, "user_id", "event_type", k=_SO_K), _SO_K
    )
    users = ev.select("event_type", "user_id").distinct()
    ua = users.select(
        F.col("event_type").alias("group_a"), F.col("user_id").alias("_u")
    )
    ub = users.select(
        F.col("event_type").alias("group_b"), F.col("user_id").alias("_u")
    )
    exact = (
        ua.join(ub, "_u")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    return (
        ops.join(exact, ["group_a", "group_b"], "left")
        .select(
            "group_a",
            "group_b",
            "union_size",
            "union_est",
            "jaccard_num",
            "jaccard_den",
            "inter_est",
            F.coalesce("exact_inter", F.lit(0)).cast("long").alias("exact_inter"),
        )
    )


def _corpus_overlap_oracle() -> str:
    from terra_bonobo_nodes_spark.llm import distinct as ds

    ops = ds.kmv_set_ops_sql(
        "SELECT * FROM events", "user_id", "event_type", _SO_K
    )
    return f"""
WITH _ops AS ({ops}),
_uu AS (SELECT DISTINCT event_type, user_id FROM events),
_exact AS (
  SELECT a.event_type AS group_a, b.event_type AS group_b,
         count(*) AS exact_inter
  FROM _uu a JOIN _uu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT o.group_a, o.group_b, o.union_size, o.union_est,
       o.jaccard_num, o.jaccard_den, o.inter_est,
       CAST(coalesce(e.exact_inter, 0) AS BIGINT) AS exact_inter
FROM _ops o LEFT JOIN _exact e USING (group_a, group_b)
"""


CORPUS_OVERLAP_ORACLE = _corpus_overlap_oracle()


# --- llm_stride_interleave_order (authored round 14 continuation, r15 cand.) --
# Stride-scheduling mixture interleave (llm/corpus.py::
# stride_interleave, Waldspurger & Weihl 1995): the deterministic
# proportional-share WRITE ORDER for a heterogeneous mixture — the
# step between the samplers (which pick the documents) and the shard
# writer (which materializes the order via repartitionByRange on the
# key). en-heavy 4:2:1:1 weights over the documents langs; zh left
# unlisted to pin the drop contract. Doc grain; every column integer.

_SI_WEIGHTS = {"en": 4, "fr": 2, "de": 1, "es": 1}


def llm_stride_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per kept document: within-source seeded-hash rank and the
    integer stride key a training reader sorts by — in any key prefix
    each language's share deviates from its weight ratio by at most
    one document per source. One window shuffle on the source key."""
    from terra_bonobo_nodes_spark.llm.corpus import stride_interleave

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stride_interleave(
        docs, _SI_WEIGHTS, source_col="lang", id_col="doc_id"
    ).select("doc_id", "lang", "src_rank", "interleave_key")


def _stride_oracle() -> str:
    from terra_bonobo_nodes_spark.llm.corpus import stride_interleave_sql

    inner = stride_interleave_sql(
        "SELECT doc_id, lang FROM documents", _SI_WEIGHTS,
        source_expr="lang", id_expr="doc_id",
    )
    return f"SELECT doc_id, lang, src_rank, interleave_key FROM ({inner})"


STRIDE_ORACLE = _stride_oracle()


# --- corpus_version_diff (authored round 14 continuation, r15 candidate) ------
# Snapshot diff (operators/cdc.py::snapshot_diff): the report a
# curation team reads before promoting corpus v(N+1) over vN — every
# doc labeled added/removed/changed/unchanged in ONE full-outer key
# join (the inverse question of the registered cdc_apply_changes,
# which replays a changelog). v2 here is a deterministic perturbation
# of documents: every 11th doc removed, every 7th surviving doc's
# n_chars bumped, every 13th doc re-keyed high as an addition — all
# four verdicts populated at every SF.


def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-grain verdict + compared-column pairs between documents and
    its synthesized next version. One full-outer join on the key;
    comparison in codegen; no window, no Python."""
    from terra_bonobo_nodes_spark.operators.cdc import snapshot_diff

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    survivors = docs.where(F.expr("pmod(doc_id, 11) != 0"))
    v2 = survivors.select(
        "doc_id",
        F.when(
            F.expr("pmod(doc_id, 7) = 0"), F.col("n_chars") + 1
        ).otherwise(F.col("n_chars")).alias("n_chars"),
    ).unionByName(
        docs.where(F.expr("pmod(doc_id, 13) = 0")).select(
            (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "n_chars"
        )
    )
    return snapshot_diff(docs, v2, ["doc_id"], compare_cols=["n_chars"])


CORPUS_DIFF_ORACLE = """
WITH v1 AS (SELECT doc_id, n_chars FROM documents),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 11 != 0
  UNION ALL
  SELECT doc_id + 1000000, n_chars FROM documents WHERE doc_id % 13 = 0
)
SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            WHEN v1.n_chars IS NOT DISTINCT FROM v2.n_chars THEN 'unchanged'
            ELSE 'changed' END AS verdict,
       v1.n_chars AS n_chars_old,
       v2.n_chars AS n_chars_new
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
"""

# ROUND-17 PROMOTION (ledger item 3): registered, RETIRING
# scd2_user_value_history (plans/queries_relational.py) — both are
# key-versioned churn reports; the diff row adds the full-outer-join
# promotion-gate verdict at corpus grain.
register(
    "corpus_version_diff",
    oracle=CORPUS_DIFF_ORACLE,
    headline=True,  # promoted rows join the bench set (VERDICT_r15 #4)
    tags=("cdc", "gate"),
)(corpus_version_diff)


# --- llm_vocab_coverage_report (authored round 14 continuation, r15 cand.) ----
# Tokenizer-fit report (llm/text.py::vocab_coverage + top_tokens):
# per-language OOV rate against a vocabulary built from the corpus's
# own top-256 tokens — the signal that decides whether a tokenizer
# trained on one mix is reusable on another. The top-k builder plans
# as TakeOrderedAndProject (per-partition heaps, no global sort); the
# coverage join broadcasts the vocabulary. Every surfaced column an
# exact integer (rate in ppm by floor division).

_VC_K = 256


def llm_vocab_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_tokens, n_oov, oov_rate_ppm) against the corpus's own
    top-256 token vocabulary."""
    from terra_bonobo_nodes_spark.llm.text import top_tokens, vocab_coverage

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    vocab = top_tokens(docs, _VC_K).select("token")
    return vocab_coverage(docs, vocab, group_col="lang").select(
        F.col("group").alias("lang"), "n_tokens", "n_oov", "oov_rate_ppm"
    )


VOCAB_COVERAGE_ORACLE = f"""
WITH _toks AS (
  SELECT lang, unnest({TOKS_SQL}) AS tok
  FROM (SELECT lang, coalesce(text, '') AS text FROM documents)
),
_vocab AS (
  SELECT tok AS vtok FROM (
    SELECT tok, count(*) AS n FROM _toks GROUP BY tok
  ) ORDER BY n DESC, tok ASC LIMIT {_VC_K}
),
_grps AS (SELECT DISTINCT lang FROM documents),
_agg AS (
  SELECT t.lang,
         count(*) AS n_tokens,
         sum(CASE WHEN v.vtok IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM _toks t LEFT JOIN _vocab v ON t.tok = v.vtok
  GROUP BY t.lang
)
SELECT g.lang,
       CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(a.n_oov, 0) AS BIGINT) AS n_oov,
       CAST(CASE WHEN coalesce(a.n_tokens, 0) > 0
            THEN (a.n_oov * 1000000) // a.n_tokens END AS BIGINT)
         AS oov_rate_ppm
FROM _grps g LEFT JOIN _agg a ON g.lang IS NOT DISTINCT FROM a.lang
"""
# ^ IS NOT DISTINCT FROM, not USING(lang): Spark's groupBy collapses a
# NULL lang into a real group with actual counts, while a plain SQL
# equi-join would never match the NULL spine row and report (0,0,NULL)
# — latent cross-engine divergence if a NULL-lang row ever enters the
# documents fixture (ADVICE r15).


# --- llm_readability_scores: PROMOTED round 15 (zero-net merge) --------------
# The Flesch / Flesch-Kincaid readability surface (llm/text.py::
# readability, exact integer milli-points) merged INTO the registered
# llm_quality_filter_score row (same doc grain — the llm_blocked_hosts
# widening precedent): that row now hash-compares the five r_* columns
# next to the learned quality score. See plans/queries_llm.py.


# --- llm_curation_funnel (authored round 14 continuation, r15 candidate) ------
# The SEQUENTIAL survival funnel per source: raw -> gopher keep ->
# (AND) c4 keep -> exact-dedup survivor, with raw and final token
# mass, PLUS the independent per-rule yields (which rule fired) that
# used to be llm_source_rule_yield's row — both reports at the same
# source grain on one scan. REGISTERED round 15 as
# llm_source_rule_funnel in the rule-yield slot (retire-and-replace).
# Oracle reuses GOPHER_ORACLE and C4_ORACLE verbatim as CTE bodies
# (string surgery, not duplication) plus the registered exact-dedup
# fingerprint expression, so the funnel and its constituent rows can
# never drift apart.


def llm_source_rule_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: n_raw, n_gopher (g_keep), n_c4 (g AND c4),
    n_unique (exact-dedup survivors of the filtered set, min-id wins),
    tok_raw, tok_final (c4_text tokens of the survivors), PLUS the
    independent per-rule audit columns retired from
    llm_source_rule_yield (c4 keep independent of gopher, each gopher
    rule's violation count) — the strict-superset row registered in
    that slot round 15. Plan: the two rule batteries are pure Column
    over one scan; dedup is one window on the fingerprint over the
    FILTERED set only; aggregates are combinable; the final shape is
    two groupBys joined on the 20-row source key."""
    from pyspark.sql import Window

    from terra_bonobo_nodes_spark.llm.dedup import fingerprint_col
    from terra_bonobo_nodes_spark.llm.scrub import c4_line_filter
    from terra_bonobo_nodes_spark.llm.text import gopher_rules, tokens

    # spread the single-task scan: both rule batteries + tokenization
    # run as one projection over the raw scan (guide §2.5)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
    )
    staged = c4_line_filter(gopher_rules(docs)).withColumn(
        "_tok_raw",
        F.size(tokens(F.coalesce(F.col("text"), F.lit("")))).cast("long"),
    )
    cnt = lambda c: F.count(F.when(F.col(c), 1)).cast("long")  # noqa: E731
    raw_agg = staged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw"),
        F.sum("_tok_raw").cast("long").alias("tok_raw"),
        F.count(F.when(F.col("g_keep"), 1)).cast("long").alias("n_gopher"),
        F.count(F.when(F.col("g_keep") & F.col("c4_keep"), 1))
        .cast("long")
        .alias("n_c4"),
        # the per-rule audit columns (widened late round 14 so the r15
        # promotion can RETIRE llm_source_rule_yield into this row —
        # same source grain, independent yields + sequential retention
        # on one report): c4 keep INDEPENDENT of gopher, then each
        # gopher rule's violation count
        cnt("c4_keep").alias("n_c4_keep"),
        cnt("g_flag_n_words").alias("n_flag_n_words"),
        cnt("g_flag_mean_word_len").alias("n_flag_mean_word_len"),
        cnt("g_flag_symbol_ratio").alias("n_flag_symbol_ratio"),
        cnt("g_flag_bullet_lines").alias("n_flag_bullet_lines"),
        cnt("g_flag_ellipsis_lines").alias("n_flag_ellipsis_lines"),
        cnt("g_flag_alpha_words").alias("n_flag_alpha_words"),
        cnt("g_flag_stopwords").alias("n_flag_stopwords"),
    )
    filtered = staged.where(F.col("g_keep") & F.col("c4_keep"))
    w = Window.partitionBy(fingerprint_col("text")).orderBy(
        F.col("doc_id").asc()
    )
    surv = filtered.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") == 1
    )
    uniq_agg = surv.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.sum(F.size(tokens(F.col("c4_text"))).cast("long"))
        .cast("long")
        .alias("tok_final"),
    )
    return raw_agg.join(uniq_agg, "source", "left").select(
        "source",
        "n_raw",
        "n_gopher",
        "n_c4",
        F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
        "tok_raw",
        F.coalesce("tok_final", F.lit(0)).cast("long").alias("tok_final"),
        "n_c4_keep",
        "n_flag_n_words",
        "n_flag_mean_word_len",
        "n_flag_symbol_ratio",
        "n_flag_bullet_lines",
        "n_flag_ellipsis_lines",
        "n_flag_alpha_words",
        "n_flag_stopwords",
    )


def _funnel_oracle() -> str:
    from terra_bonobo_nodes_spark.llm import hashing

    gopher_per_doc = GOPHER_ORACLE.strip()
    c4_per_doc = C4_ORACLE.strip()
    fp = f"md5({hashing.normalize_sql('d.text')})"
    return f"""
WITH fgopher AS ({gopher_per_doc}),
fc4 AS ({c4_per_doc}),
fj AS (
  SELECT d.source, d.doc_id, d.text, g.g_keep, c.c4_keep, c.c4_text,
         g.g_flag_n_words, g.g_flag_mean_word_len, g.g_flag_symbol_ratio,
         g.g_flag_bullet_lines, g.g_flag_ellipsis_lines,
         g.g_flag_alpha_words, g.g_flag_stopwords,
         len({TOKS_SQL.replace("lower(text)", "lower(coalesce(d.text, ''))")}) AS tok_raw,
         {fp} AS fp
  FROM documents d
  JOIN fgopher g ON g.doc_id = d.doc_id
  JOIN fc4 c ON c.doc_id = d.doc_id
),
fraw AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_raw,
         CAST(sum(tok_raw) AS BIGINT) AS tok_raw,
         CAST(count(*) FILTER (g_keep) AS BIGINT) AS n_gopher,
         CAST(count(*) FILTER (g_keep AND c4_keep) AS BIGINT) AS n_c4,
         CAST(count(*) FILTER (c4_keep) AS BIGINT) AS n_c4_keep,
         CAST(count(*) FILTER (g_flag_n_words) AS BIGINT) AS n_flag_n_words,
         CAST(count(*) FILTER (g_flag_mean_word_len) AS BIGINT) AS n_flag_mean_word_len,
         CAST(count(*) FILTER (g_flag_symbol_ratio) AS BIGINT) AS n_flag_symbol_ratio,
         CAST(count(*) FILTER (g_flag_bullet_lines) AS BIGINT) AS n_flag_bullet_lines,
         CAST(count(*) FILTER (g_flag_ellipsis_lines) AS BIGINT) AS n_flag_ellipsis_lines,
         CAST(count(*) FILTER (g_flag_alpha_words) AS BIGINT) AS n_flag_alpha_words,
         CAST(count(*) FILTER (g_flag_stopwords) AS BIGINT) AS n_flag_stopwords
  FROM fj GROUP BY source
),
ffiltered AS (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM fj WHERE g_keep AND c4_keep
),
funiq AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_unique,
         CAST(sum(len({TOKS_SQL.replace("lower(text)", "lower(c4_text)")})) AS BIGINT) AS tok_final
  FROM ffiltered WHERE rn = 1 GROUP BY source
)
SELECT r.source, r.n_raw, r.n_gopher, r.n_c4,
       CAST(coalesce(u.n_unique, 0) AS BIGINT) AS n_unique,
       r.tok_raw,
       CAST(coalesce(u.tok_final, 0) AS BIGINT) AS tok_final,
       r.n_c4_keep, r.n_flag_n_words, r.n_flag_mean_word_len,
       r.n_flag_symbol_ratio, r.n_flag_bullet_lines,
       r.n_flag_ellipsis_lines, r.n_flag_alpha_words, r.n_flag_stopwords
FROM fraw r LEFT JOIN funiq u USING (source)
"""


SOURCE_RULE_FUNNEL_ORACLE = _funnel_oracle()

# registered round 15 in llm_source_rule_yield's slot (retire-and-
# replace, zero net — the strict-superset widening planned by the r14
# ledger; post-definition because the oracle literal is composed above
# from the rule batteries' SQL mirrors). NOTE: the r14 ledger called
# this candidate "llm_curation_funnel", but that registry name belongs
# to the round-5 raw->dedup->len/lang funnel row (still green, still
# registered) — registering under it would collide, so the promoted
# name says what the row is: the rule-yield report plus the funnel.
register(
    "llm_source_rule_funnel",
    oracle=SOURCE_RULE_FUNNEL_ORACLE,
    headline=True,  # promoted r15; benched since r16 (VERDICT_r15 #4)
    tags=("llm", "curation", "report"),
)(llm_source_rule_funnel)


# --- llm_packing_efficiency (authored round 14 continuation, r15 candidate) ---
# Padding-waste ledger (llm/corpus.py::packing_efficiency): per source,
# training sequences under NAIVE one-doc-per-sequence padding vs the
# chunk_assignments PACKED stream at a 512-token budget — the report
# that justifies the packing step in tokens saved. Source grain,
# every column an exact integer; zero windows (the packed ceil needs
# only per-shard token totals).

_PE_BUDGET, _PE_SHARDS = 512, 8


def llm_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: doc/token counts, naive vs packed sequence counts,
    and each layout's wasted-token ppm."""
    from terra_bonobo_nodes_spark.llm.corpus import packing_efficiency
    from terra_bonobo_nodes_spark.llm.text import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
    )
    return packing_efficiency(
        docs, budget=_PE_BUDGET, n_shards=_PE_SHARDS
    )


def _packing_oracle() -> str:
    from terra_bonobo_nodes_spark.llm.corpus import packing_efficiency_sql

    toks_coal = TOKS_SQL.replace("lower(text)", "lower(coalesce(text, ''))")
    src_rel = (
        "SELECT doc_id, source, "
        f"len({toks_coal}) AS n_tokens "
        "FROM documents"
    )
    return packing_efficiency_sql(src_rel, _PE_BUDGET, _PE_SHARDS)


PACKING_ORACLE = _packing_oracle()


# --- corpus_drift_psi (authored round 14 continuation, r15 candidate) ---------
# PSI distribution drift (operators/quality.py::distribution_drift):
# the promotion-gate complement of corpus_version_diff — diff says
# WHICH rows changed, PSI says whether the length DISTRIBUTION moved.
# Buckets = n_chars div 100; new version = the same deterministic
# perturbation corpus_version_diff uses, so the two gate reports read
# off one synthetic v2. The psi_term double is computed from exact
# integer counts and rounded to 6dp (the repo float convention).


def corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per length bucket: v1/v2 counts, exact ppm shares, PSI term."""
    from terra_bonobo_nodes_spark.operators.quality import distribution_drift

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    v2 = docs.where(F.expr("pmod(doc_id, 11) != 0")).select(
        "doc_id",
        F.when(
            F.expr("pmod(doc_id, 7) = 0"), F.col("n_chars") + 1
        ).otherwise(F.col("n_chars")).alias("n_chars"),
    ).unionByName(
        docs.where(F.expr("pmod(doc_id, 13) = 0")).select(
            (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "n_chars"
        )
    )
    bucketed = lambda d: d.select(  # noqa: E731
        F.expr("n_chars div 100").alias("len_bucket")
    )
    return distribution_drift(bucketed(docs), bucketed(v2), "len_bucket")


def _drift_oracle() -> str:
    from terra_bonobo_nodes_spark.operators.quality import (
        distribution_drift_sql,
    )

    v2 = """
  SELECT CASE WHEN doc_id % 7 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 11 != 0
  UNION ALL
  SELECT n_chars FROM documents WHERE doc_id % 13 = 0
"""
    inner = distribution_drift_sql(
        "SELECT n_chars // 100 AS len_bucket FROM documents",
        f"SELECT n_chars // 100 AS len_bucket FROM ({v2})",
        "len_bucket",
    )
    return f"SELECT bucket, n_old, n_new, share_old_ppm, share_new_ppm, psi_term FROM ({inner})"


DRIFT_ORACLE = _drift_oracle()

# ROUND-17 PROMOTION (ledger item 3): the distribution-drift member of
# the promotion-gate family — PSI over the same synthetic v2
# perturbation corpus_version_diff uses, so the two gate reports read
# together. Slot funded by the stream_props_json_rollup merge into
# stream_window_agg_surface (queries_streaming.py).
register(
    "corpus_drift_psi",
    oracle=DRIFT_ORACLE,
    headline=True,  # promoted rows join the bench set (VERDICT_r15 #4)
    tags=("quality", "gate"),
)(corpus_drift_psi)


# --- events_conversion_funnel / events_cohort_retention (r14 cont., r15) ------
# Event-sequence analytics (operators/funnels.py): the ordered-step
# conversion funnel and the cohort retention triangle — the two
# reports every events warehouse runs, both combinable-aggregate
# shaped (funnel: one groupBy(user) pass + an array fold in codegen;
# retention: min-per-user + join-back + cell counts). Every surfaced
# column an exact integer (ppm by floor division, cohorts as epoch
# BIGINT per the repo timestamp convention).

_FUNNEL_STEPS = ["view", "click", "purchase"]


def events_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase, in-order semantics, per step:
    users reaching it and conversion vs step 1 in ppm."""
    from terra_bonobo_nodes_spark.operators.funnels import conversion_funnel

    ev = load_table(spark, sf_dir, "events")
    return conversion_funnel(ev, _FUNNEL_STEPS)


def _funnel_oracle_sql() -> str:
    from terra_bonobo_nodes_spark.operators.funnels import (
        conversion_funnel_sql,
    )

    return conversion_funnel_sql("SELECT * FROM events", _FUNNEL_STEPS)


EVENTS_FUNNEL_ORACLE = _funnel_oracle_sql()

# ROUND-16 PROMOTION (ledger item 3): registered, RETIRING
# funnel_view_click_purchase (plans/queries_relational.py) — the
# ordered-step generalization of the fixed view->click->purchase row:
# same events source, in-order semantics over ANY step list, one
# groupBy(user) pass + a sorted-array fold in codegen instead of one
# join-back per stage. Zero net capacity.
register(
    "events_conversion_funnel",
    oracle=EVENTS_FUNNEL_ORACLE,
    headline=True,  # promoted rows join the bench set (VERDICT_r15 #4)
    tags=("analytics", "funnel"),
)(events_conversion_funnel)


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over events."""
    from terra_bonobo_nodes_spark.operators.funnels import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, period="week")


def _retention_oracle_sql() -> str:
    from terra_bonobo_nodes_spark.operators.funnels import (
        cohort_retention_sql,
    )

    return cohort_retention_sql("SELECT * FROM events", period="week")


EVENTS_RETENTION_ORACLE = _retention_oracle_sql()

# ROUND-16 PROMOTION (ledger item 4): registered, RETIRING
# cohort_daily_retention (plans/queries_relational.py) — the weekly
# retention triangle subsumes the daily row's signal at report grain
# (same min-per-user + join-back + cell-count shape, coarser period).
# Zero net capacity.
register(
    "events_cohort_retention",
    oracle=EVENTS_RETENTION_ORACLE,
    headline=True,  # promoted rows join the bench set (VERDICT_r15 #4)
    tags=("analytics", "cohort"),
)(events_cohort_retention)


# --- cms_join_size_report (authored round 14 continuation, r15 candidate) -----
# Sketch-based join-size estimation (llm/sketch.py::cms_inner_product,
# Cormode & Muthukrishnan 2005 §4.2): "how big will this join be?"
# answered from two d*w sketches BEFORE paying for the join — the
# planner question that completes the sketch family's five
# (membership / frequency / cardinality / quantile / join size).
# Two joins measured: orders x lineitem on orderkey (fk shape) and
# the events self-join on user_id (skew shape, sum n_u^2); exact truth
# rides along with the never-undercount flag.

# w sizing: the estimate's additive error is ~ N_a*N_b/w per the CM
# guarantee, so w must scale with the CROSS size over the acceptable
# absolute error — at sf0.1 (150k orders x 600k lineitems) w=2^18
# bounds the collision mass near the true join size (measured:
# est/exact 2.0 at 2^18 vs 37x at the 2^12 default; still only
# d*w = 1M BIGINT cells, sketch-sized). The same report at w=2^12
# would be honest but useless — the exact column exists to SHOW that.
_JS_D, _JS_W = 4, 1 << 18


def cms_join_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(join_name, est_join_size, exact_join_size, never_under)."""
    from terra_bonobo_nodes_spark.llm.sketch import cms_cells, cms_inner_product

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("token")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("token")
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("token")
    )

    def one(name, ta, tb):
        est = cms_inner_product(
            cms_cells(ta, d=_JS_D, w=_JS_W), cms_cells(tb, d=_JS_D, w=_JS_W)
        ).select("est_join_size")
        ca = ta.groupBy("token").agg(F.count(F.lit(1)).alias("_fa"))
        cb = tb.groupBy("token").agg(F.count(F.lit(1)).alias("_fb"))
        exact = ca.join(cb, "token").agg(
            F.coalesce(F.sum(F.col("_fa") * F.col("_fb")), F.lit(0))
            .cast("long")
            .alias("exact_join_size")
        )
        return est.crossJoin(exact).select(
            F.lit(name).alias("join_name"),
            "est_join_size",
            "exact_join_size",
            (F.col("est_join_size") >= F.col("exact_join_size")).alias(
                "never_under"
            ),
        )

    return one("orders_lineitem", orders, li).unionByName(
        one("events_self_users", ev, ev)
    )


def _join_size_oracle() -> str:
    from terra_bonobo_nodes_spark.llm.sketch import cms_inner_product_sql

    def one(name, src_a, src_b, ka, kb):
        ip = cms_inner_product_sql(src_a, src_b, ka, kb, _JS_D, _JS_W)
        return f"""
SELECT '{name}' AS join_name, i.est_join_size,
       CAST(coalesce(x.exact, 0) AS BIGINT) AS exact_join_size,
       i.est_join_size >= coalesce(x.exact, 0) AS never_under
FROM ({ip}) i CROSS JOIN (
  SELECT sum(fa * fb) AS exact FROM
    (SELECT k, count(*) AS fa FROM ({src_a}) t(k) GROUP BY 1) a
    JOIN (SELECT k, count(*) AS fb FROM ({src_b}) t(k) GROUP BY 1) b
    USING (k)
) x"""

    q1 = one(
        "orders_lineitem",
        "SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders",
        "SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem",
        "k", "k",
    )
    q2 = one(
        "events_self_users",
        "SELECT CAST(user_id AS VARCHAR) AS k FROM events",
        "SELECT CAST(user_id AS VARCHAR) AS k FROM events",
        "k", "k",
    )
    return q1 + "\nUNION ALL\n" + q2


JOIN_SIZE_ORACLE = _join_size_oracle()


# --- llm_novelty_scores (authored round 14 continuation, r15 candidate) -------
# Semantic novelty of a corpus-version ADDITION set: each new vector's
# nearest neighbor in the standing corpus and a novel/redundant
# verdict — the embedding-space complement of corpus_version_diff
# (key churn) and corpus_drift_psi (distribution drift): "are the new
# documents actually NEW, or re-crawls of what we have?". Additions =
# vec_id % 13 == 0 (the version-diff modulus convention); the
# standing corpus is everything else. brute_force_topk(k=1) is the
# bounded-query-side exact path (the additions batch is the SMALL
# side by construction — for addition sets past the documented cap,
# ivf_ann_topk is the scale path).

_NOV_THRESH = 0.99


def llm_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, nn_id, cos_sim, is_novel) for every added vector."""
    from terra_bonobo_nodes_spark.llm.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    standing = emb.where(F.expr("pmod(vec_id, 13) != 0"))
    added = emb.where(F.expr("pmod(vec_id, 13) = 0"))
    nn = brute_force_topk(standing, added, k=1)
    return nn.select(
        F.col("query_id").alias("vec_id"),
        F.col("neighbor_id").alias("nn_id"),
        "cos_sim",
        (F.col("cos_sim") < F.lit(_NOV_THRESH)).alias("is_novel"),
    )


NOVELTY_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(list_zip(v, v), x -> x[1] * x[2])),
           (acc, x) -> acc + x)) AS nrm
  FROM e
),
q AS (SELECT vec_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 13 = 0),
c AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 13 != 0),
scored AS (
  SELECT q.vec_id, c.vec_id AS nn_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(list_zip(q.qv, c.v), x -> x[1] * x[2])),
           (acc, x) -> acc + x) / (q.qn * c.nrm) AS cos_sim
  FROM c CROSS JOIN q
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id ASC) AS rank
  FROM scored
)
SELECT vec_id, nn_id, cos_sim, cos_sim < 0.99 AS is_novel
FROM ranked WHERE rank = 1
"""

# ROUND-17 PROMOTION (ledger item 3): the meaning-level member of the
# promotion-gate family — each ADDED vector's nearest neighbor in the
# standing corpus, novel/redundant verdict at addition grain. Slot
# funded by the streaming merge (see corpus_drift_psi above).
register(
    "llm_novelty_scores",
    oracle=NOVELTY_ORACLE,
    headline=True,  # promoted rows join the bench set (VERDICT_r15 #4)
    tags=("llm", "embedding", "gate"),
)(llm_novelty_scores)


# --- llm_length_outliers (authored round 14 continuation, r15 candidate) ------
# Median/MAD robust outlier screen (operators/quality.py::
# robust_outliers): the screen that survives the one 2GB page a
# mean/stddev z-score cannot — exact discrete medians, integer
# cross-multiplied threshold, full replay. Doc grain over n_chars per
# source at k=5.


def llm_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_chars, med, mad, is_outlier) per document."""
    from terra_bonobo_nodes_spark.operators.quality import robust_outliers

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars"
    )
    return robust_outliers(docs, "n_chars", "source", k_num=5).select(
        "source", "n_chars", "med", "mad", "is_outlier"
    )


def _length_outliers_oracle() -> str:
    from terra_bonobo_nodes_spark.operators.quality import robust_outliers_sql

    inner = robust_outliers_sql(
        "SELECT source, n_chars FROM documents", "n_chars", "source", 5
    )
    return (
        "SELECT g AS source, v AS n_chars, med, mad, is_outlier "
        f"FROM ({inner})"
    )


LENGTH_OUTLIERS_ORACLE = _length_outliers_oracle()


# --- llm_host_communities (authored round 14 continuation, r15 candidate) ----
# Label-propagation communities (llm/graph.py::lpa_fixed) over the
# same synthesized host graph the registered capstone reads — the
# SIXTH link signal: WHICH GROUP a host belongs to (mirror pools,
# template farms, forum rings collapse onto one label), the key that
# per-community dedup budgets and source-mixing quotas group by.
# Node grain like the capstone; community_size rides along so the
# report is directly consumable (and exercises a second aggregate
# grain over the converged labels).

HOST_COMMUNITIES_ORACLE = f"""
WITH {graph.lpa_fixed_ctes(_PR_EDGES_DUCK, iterations=5)}
SELECT l.node AS host,
       l.label AS community,
       CAST(count(*) OVER (PARTITION BY l.label) AS BIGINT)
         AS community_size
FROM lp_l5 l
"""


def llm_host_communities(
    spark: SparkSession, sf_dir: str, pairs: list | None = None
) -> DataFrame:
    """Host-grain community assignment: 5 synchronous LPA rounds
    (min tie-break, self-inclusion — deterministic, integer-exact) over
    the capstone's host link graph, plus the converged community size.
    One equi-join + two combinable aggregates per round; the size is
    one window over the one-row-per-host result."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    e1 = docs.select(
        F.expr("pmod(doc_id, 101)").alias("src"),
        F.expr("pmod(doc_id * 7 + 3, 101)").alias("dst"),
    )
    e2 = docs.select(
        F.expr("pmod(doc_id, 101)").alias("src"),
        F.expr("pmod(doc_id * 13 + 5, 101)").alias("dst"),
    )
    edges = e1.union(e2)
    if pairs is not None:
        # collected-pairs fast path (r17): labels AND community sizes
        # in Python — the same _lpa_local replay lpa_fixed runs, plus a
        # Counter instead of a Spark window over the ~|V|-row frame
        # (the window forced an extra exchange + sort per run). Values
        # identical: the window counted rows per label over exactly
        # these nodes.
        from collections import Counter

        from pyspark.sql import types as T

        upairs = graph._und_from_pairs(pairs)
        labels = graph._lpa_local(upairs, 5)
        sizes = Counter(labels.values())
        node_t = edges.schema["src"].dataType
        return graph._node_frame(
            spark,
            [(n, lb, sizes[lb]) for n, lb in labels.items()],
            node_t,
            [("community", node_t), ("community_size", T.LongType())],
        ).withColumnRenamed("node", "host")
    labels = graph.lpa_fixed(
        edges,
        iterations=5,
        small_graph_pairs=_SG,
        pairs=None,
    )
    return labels.select(
        F.col("node").alias("host"),
        F.col("label").alias("community"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .cast("long")
        .alias("community_size"),
    )


# --- llm_host_quality_report, the r16 WIDE registered form --------------------
# ROUND-16 PROMOTION (ledger item 1; staged hash-green round 15 as the
# llm_host_quality_wide candidate): the registered capstone + the LPA
# community columns on one host-grain row — the SIXTH link signal.
# Composition only: both sides are the already-verified rows, joined
# on the host key. The candidate entry retired with this registration
# (the llm_source_rule_funnel precedent).

HOST_REPORT_WIDE_ORACLE = f"""
WITH _hr AS ({HOST_REPORT_ORACLE}),
_cm AS ({HOST_COMMUNITIES_ORACLE})
SELECT _hr.*, _cm.community, _cm.community_size
FROM _hr JOIN _cm ON _cm.host = _hr.host
"""


def llm_host_quality_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All SIX link signals (PageRank, TrustRank, hub, authority,
    3-core, LPA community + its size) + per-host corpus stats on one
    host-grain row — the r16 widened form of the registered capstone.
    The small-graph guard runs ONCE over the shared host edge
    synthesis; all five fixed-point chains reuse the collected pairs
    (one aggregation of the edge data per run, not six)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    e1 = docs.select(
        F.expr("pmod(doc_id, 101)").alias("src"),
        F.expr("pmod(doc_id * 7 + 3, 101)").alias("dst"),
    )
    e2 = docs.select(
        F.expr("pmod(doc_id, 101)").alias("src"),
        F.expr("pmod(doc_id * 13 + 5, 101)").alias("dst"),
    )
    pairs = graph.weighted_edge_pairs_if_small(e1.union(e2), threshold=_SG)
    base = llm_host_quality_report(spark, sf_dir, pairs=pairs)
    comm = llm_host_communities(spark, sf_dir, pairs=pairs)
    return base.join(comm, "host").select(
        *base.columns, "community", "community_size"
    )


register(
    "llm_host_quality_report",
    oracle=HOST_REPORT_WIDE_ORACLE,
    headline=True,  # promoted rows join the bench set (VERDICT_r15 #4)
    tags=("llm", "graph", "curation"),
)(llm_host_quality_wide)


# --- llm_robots_filter (authored round 13, r14 candidate) ---------------
# robots.txt compliance (RFC 9309, llm/robots.py): per-host robots
# TEXT is synthesized (three group shapes: prefix-disallow with a
# longer allow override, a wildcard disallow, and no rules at all),
# PARSED by the real mapInPandas parser in-plan, and every document's
# URL judged by the longest-match/allow-tie/default-allow decision.
# The oracle restates the rules the construction fixes (the parser
# itself is pinned by tests/test_robots.py against RFC examples) and
# replays host derivation, regex matching, and the decision window.

_RB_TXT0 = "User-agent: *\nDisallow: /private/\nAllow: /private/ok$"


def _robots_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, allowed) — the robots candidate's synthesis + verdict,
    consumed by the widened llm_blocked_hosts row since round 14."""
    from terra_bonobo_nodes_spark.llm.robots import (
        flag_robots_disallowed,
        robots_rules,
    )

    k3 = F.pmod(F.col("id"), F.lit(3))
    hosts = spark.range(0, 101, 1, 1).select(  # one partition — see _tile_layer
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example")).alias(
            "host"
        ),
        F.when(k3 == 0, F.lit(_RB_TXT0))
        .when(
            k3 == 1,
            F.concat(
                F.lit("User-agent: *\nDisallow: /d"),
                F.pmod(F.col("id"), F.lit(7)).cast("string"),
                F.lit("*"),
            ),
        )
        .otherwise(F.lit(""))
        .alias("robots_txt"),
    )
    rules = robots_rules(hosts)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = F.pmod(F.col("doc_id"), F.lit(101)).cast("string")
    m5 = F.pmod(F.col("doc_id"), F.lit(5))
    p = (
        F.when(m5 == 0, F.lit("/private/secret"))
        .when(m5 == 1, F.lit("/private/ok"))
        .when(
            m5 == 2,
            F.concat(
                F.lit("/d"), F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
                F.lit("x"),
            ),
        )
        .when(m5 == 3, F.lit("/public"))
        .otherwise(F.lit(""))  # authority-only URL -> path '/'
    )
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("http://h"), h, F.lit(".example"), p).alias("url"),
    )
    out = flag_robots_disallowed(urls, rules)
    return out.select("doc_id", F.col("robots_allowed").alias("allowed"))


ROBOTS_ORACLE = """
WITH rb_hosts AS (SELECT range AS k FROM range(101)),
rb_rules AS (
  SELECT 'h' || k || '.example' AS host, FALSE AS allow,
         '^/private/' AS regex, 9 AS plen
  FROM rb_hosts WHERE k % 3 = 0
  UNION ALL
  SELECT 'h' || k || '.example', TRUE, '^/private/ok$', 12
  FROM rb_hosts WHERE k % 3 = 0
  UNION ALL
  SELECT 'h' || k || '.example', FALSE, '^/d' || (k % 7) || '.*', 4
  FROM rb_hosts WHERE k % 3 = 1
), rb_docs AS (
  SELECT doc_id, 'h' || (doc_id % 101) || '.example' AS host,
         CASE CAST(doc_id % 5 AS INTEGER)
           WHEN 0 THEN '/private/secret'
           WHEN 1 THEN '/private/ok'
           WHEN 2 THEN '/d' || (doc_id % 7) || 'x'
           WHEN 3 THEN '/public'
           ELSE '/' END AS p
  FROM documents
), rb_j AS (
  SELECT d.doc_id, r.allow, r.plen,
         (r.regex IS NOT NULL AND regexp_matches(d.p, r.regex)) AS hit
  FROM rb_docs d LEFT JOIN rb_rules r USING (host)
), rb_best AS (
  SELECT doc_id, allow, hit,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY hit DESC, plen DESC, allow DESC) AS rn
  FROM rb_j)
SELECT doc_id, CASE WHEN hit THEN allow ELSE TRUE END AS allowed
FROM rb_best WHERE rn = 1
"""

# registered post-definition once both composition sources exist (the
# llm_source_rule_yield / llm_link_graph_rank pattern — review finding:
# the earlier oracle=None + private-registry mutation left a window
# where the entry read as rows-only)
register(
    "llm_blocked_hosts",
    oracle=_url_hygiene_oracle(),
    tags=("llm", "curation", "urls", "robots"),
)(llm_blocked_hosts)



# --- llm_anchor_text_topk (authored round 13, r14 candidate) ------------
# The anchor-text index — "what the web says about a host" (the
# classic off-page relevance signal): pages -> TAG-AWARE link
# extraction (llm/html.extract_link_tags: href + anchor + nofollow as
# one struct) -> followed links only -> anchor terms aggregated per
# TARGET host -> top-5 terms per host by (count desc, term asc). The
# synthesized anchors are real document prose (normalize(text)
# prefixes — markup-safe by construction), every stage replayed by the
# struct-typed SQL mirror, so this row drives extract_link_tags
# through a full value-hash oracle; one page per doc carries a
# nofollow decoy link whose anchor must NOT be indexed.

_ANCHOR_K = 5


def llm_anchor_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from terra_bonobo_nodes_spark.llm.hashing import normalize
    from terra_bonobo_nodes_spark.llm.html import extract_link_tags

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    anchor = F.substring(normalize(F.col("text")), 1, 48)
    hn = F.pmod(F.col("doc_id") * 7 + 3, F.lit(101)).cast("string")
    pages = docs.select(
        F.concat(
            F.lit('<a href="http://h'), hn, F.lit('.example/p">'),
            anchor, F.lit("</a>"),
            F.lit('<a rel="nofollow" href="http://h'), hn,
            F.lit('.example/ad">sponsored decoy</a>'),
        ).alias("html"),
        F.concat(F.lit("h"), hn, F.lit(".example")).alias("host"),
    )
    links = pages.select(
        "host", F.explode(extract_link_tags("html")).alias("lt")
    ).where(~F.col("lt.nofollow"))
    terms = links.select(
        "host",
        F.explode(
            F.filter(
                F.split(F.col("lt.anchor"), " "),
                lambda w: F.length(w) > 0,
            )
        ).alias("term"),
    )
    counts = terms.groupBy("host", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("host").orderBy(
        F.col("n").desc(), F.col("term").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _ANCHOR_K)
        .select("host", "term", "n", F.col("rank").cast("long").alias("rank"))
    )


def _anchor_oracle() -> str:
    from terra_bonobo_nodes_spark.llm.html import extract_link_tags_sql

    norm = hashing.normalize_sql("text")
    pages = f"""
SELECT '<a href="http://h' || ((doc_id * 7 + 3) % 101) || '.example/p">'
       || substr({norm}, 1, 48) || '</a>'
       || '<a rel="nofollow" href="http://h' || ((doc_id * 7 + 3) % 101)
       || '.example/ad">sponsored decoy</a>' AS html,
       'h' || ((doc_id * 7 + 3) % 101) || '.example' AS host
FROM documents"""
    return f"""
WITH an_pages AS ({pages}),
an_links AS (
  SELECT host, unnest({extract_link_tags_sql('html')}) AS lt FROM an_pages
), an_terms AS (
  SELECT host,
         unnest(list_filter(str_split(lt.anchor, ' '), w -> len(w) > 0))
           AS term
  FROM an_links WHERE NOT lt.nofollow
), an_counts AS (
  SELECT host, term, count(*) AS n FROM an_terms GROUP BY 1, 2
)
SELECT host, term, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
FROM (SELECT host, term, n,
             row_number() OVER (PARTITION BY host
                                ORDER BY n DESC, term ASC) AS rank
      FROM an_counts)
WHERE rank <= {_ANCHOR_K}"""


ANCHOR_TOPK_ORACLE = _anchor_oracle()


# --- llm_link_graph_rank (authored round 13, r14 candidate) -------------
# The pipeline-shaped graph row: instead of a side table of edges, the
# link graph is EXTRACTED from page HTML (llm/html.extract_links ->
# llm/urls.host_link_edges — quoted-href regex, absolute /
# protocol-relative / relative / non-hierarchical classification) and
# fed to fixed-point PageRank. The synthesized pages exercise all four
# link classes (absolute double-quoted, protocol-relative
# single-quoted, relative self-edge, dropped mailto); the oracle
# replays extraction (extract_links_sql), the same classification
# CASE, and the unrolled rank iterations.


def llm_link_graph_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from terra_bonobo_nodes_spark.llm.urls import host_link_edges

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hn = lambda m, a: F.pmod(F.col("doc_id") * m + a, F.lit(101)).cast("string")  # noqa: E731
    pages = docs.select(
        F.concat(F.lit("http://h"), hn(1, 0), F.lit(".example/idx")).alias("url"),
        F.concat(
            F.lit('<a href="http://h'), hn(7, 3), F.lit('.example/a">x</a>'),
            F.lit("<a href='//h"), hn(13, 5), F.lit(".example/b'>y</a>"),
            F.lit('<a href="/self">z</a><a href="mailto:x@y">m</a>'),
        ).alias("html"),
    )
    edges = host_link_edges(pages)
    return graph.pagerank_fixed(
        edges, iterations=5, small_graph_pairs=_SG
    ).select(F.col("node").alias("host"), "rank")


def _link_graph_oracle() -> str:
    from terra_bonobo_nodes_spark.llm.html import extract_links_sql

    pages = """
SELECT 'h' || (doc_id % 101) || '.example' AS src,
       '<a href="http://h' || ((doc_id * 7 + 3) % 101) || '.example/a">x</a>'
       || '<a href=''//h' || ((doc_id * 13 + 5) % 101) || '.example/b''>y</a>'
       || '<a href="/self">z</a><a href="mailto:x@y">m</a>' AS html
FROM documents"""
    edges = f"""
WITH lg_pages AS ({pages}),
lg_href AS (SELECT src, unnest({extract_links_sql('html')}) AS href
            FROM lg_pages),
lg_h AS (SELECT src, trim(href) AS h FROM lg_href)
SELECT src,
  CASE WHEN regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*://')
            OR h LIKE '//%' THEN
    regexp_replace(regexp_replace(
      lower(regexp_extract(regexp_replace(h, '^//', 'x://'),
                           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
      '^[^@]*@', ''), ':[0-9]*$', '')
  ELSE src END AS dst
FROM lg_h
WHERE NOT (h = '' OR h LIKE '#%'
           OR (regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*:')
               AND NOT regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*://')))"""
    return (
        "SELECT node AS host, rank FROM ("
        + graph.pagerank_fixed_sql(edges, iterations=5)
        + ")"
    )


LINK_GRAPH_ORACLE = _link_graph_oracle()


# ROUND-17 WIDENING (queue drain, zero net capacity): the anchor-text
# index rides the SAME synthesized-pages link-extraction source as the
# rank row, so the registered llm_link_graph_rank becomes a union-
# tagged surface (the stream_window_agg_surface precedent): the
# 'pagerank' leg is the registered row's output verbatim (term/n NULL-
# padded), the 'anchor' leg is the staged llm_anchor_text_topk
# verbatim (its rank = top-k position; the pagerank leg's rank =
# micro-unit PageRank — each leg keeps its own contract). The row was
# due (r14 green), so the changed slot dedupes into the due demand.
def llm_link_graph_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph surface: fixed-point PageRank per host + the
    followed-links anchor-text top-5 per target host, union-tagged on
    one row shape — both legs extracted from page HTML in-plan."""
    r = llm_link_graph_rank(spark, sf_dir).select(
        F.lit("pagerank").alias("kind"),
        "host",
        F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("long").alias("n"),
        "rank",
    )
    a = llm_anchor_text_topk(spark, sf_dir).select(
        F.lit("anchor").alias("kind"), "host", "term", "n", "rank"
    )
    return r.unionByName(a)


LINK_GRAPH_SURFACE_ORACLE = f"""
WITH _r AS ({LINK_GRAPH_ORACLE}),
_a AS ({ANCHOR_TOPK_ORACLE})
SELECT 'pagerank' AS kind, host, CAST(NULL AS VARCHAR) AS term,
       CAST(NULL AS BIGINT) AS n, rank
FROM _r
UNION ALL
SELECT 'anchor' AS kind, host, term, n, rank FROM _a
"""

register(
    "llm_link_graph_rank",
    oracle=LINK_GRAPH_SURFACE_ORACLE,
    headline=True,
    tags=("llm", "graph", "pipeline", "anchor"),
)(llm_link_graph_surface)


# --- llm_token_budget_mix (authored round 13, r14 candidate) ------------
# Token-budgeted data mixing (llm/corpus.py::token_budget_sample): the
# 'data mixture' step where the spec is TOKENS per domain, not doc
# counts — per-lang budgets filled greedily in seeded-hash order, the
# crossing doc kept, the unbudgeted domain (de) dropped wholesale. The
# oracle replays the identical md5-derived ordering, whitespace token
# counts, and running-sum window, so the KEPT SET matches exactly.

_TBM_SEED = "tbns-budget-v1"
_TBM_BUDGETS = {"en": 5000, "fr": 2000, "es": 1500, "zh": 900}


def llm_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from terra_bonobo_nodes_spark.llm.corpus import token_budget_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = token_budget_sample(
        docs, _TBM_BUDGETS, source_col="lang", seed=_TBM_SEED
    )
    return out.select("doc_id", "lang", "n_tokens")


_TBM_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_TBM_BUDGETS.items()))
    + " END"
)

TOKEN_BUDGET_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(
           str_split({hashing.normalize_sql("coalesce(text, '')")}, ' '),
           w -> len(w) > 0)) AS BIGINT) AS n_tokens,
         {hashing.hash32_sql(f"'{_TBM_SEED}' || CAST(doc_id AS VARCHAR)")} AS u
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY u ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM t)
SELECT doc_id, lang, n_tokens FROM c
WHERE {_TBM_CASE} IS NOT NULL AND before < {_TBM_CASE}
"""


# llm_host_hits / llm_word_lm_xent standalone candidates REMOVED round
# 14: HITS hub/auth is driver-verified inside the registered (widened)
# llm_host_quality_report; word-LM cross-entropy inside the registered
# llm_lm_entropy_surface (the widened char-LM row). Operators stay
# pinned by tests/test_graph.py and tests/test_lm.py.

# Still-deferred candidates (round-14 budget — see the registry
# ledger); the five promoted rows left this dict for the registry and
# are now pinned by the driver contract itself.

# --- llm_pq_codes (authored round 14, r15 candidate; WIDENED late r14
# with the full IVFADC composition) -----------------------------------------
# Product quantization + IVFADC (llm/pq.py, Jegou et al. 2011 incl.
# §V): flat PQ — m per-subspace codebooks trained distributed via
# kmeans_fixed, codes + reconstruction error + ADC distance to a
# pinned query — AND the production composition: coarse kmeans cells,
# PQ retrained on the INTEGER residual (shift=0 — floor(v*2^0) of an
# integer-valued double is the identity), residual codes/recon and the
# per-cell ADC of the query's residual. The oracle replays EVERYTHING:
# flat chains p{j}_*, coarse chain cc_*, residual chains r{j}_* over
# the SQL-computed residual vectors, and both ADC arithmetics. Only
# the driver-side n_probe cell ranking stays pytest-only (a sort over
# k_coarse driver ints).

_PQ_DIM, _PQ_M, _PQ_K, _PQ_ITERS = 64, 4, 8, 2
_PQ_SUB = _PQ_DIM // _PQ_M
_IVF_KC = 4
# deterministic non-degenerate query spread over [0, 1)
_PQ_QUERY = [((i * 7) % 13) / 13.0 for i in range(_PQ_DIM)]


def _pq_query_quantized() -> list[int]:
    import math

    from terra_bonobo_nodes_spark.llm.kmeans import DEFAULT_SHIFT

    scale = float(2**DEFAULT_SHIFT)
    return [int(math.floor(v * scale)) for v in _PQ_QUERY]


def llm_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # degenerate-input contract (the semantic_dedup precedent): an empty
    # corpus yields an empty well-formed frame; pq_train itself stays
    # loud (an empty TRAINING set is a caller bug in production)
    if emb.limit(1).count() == 0:
        cols = ", ".join(f"code_{j} BIGINT" for j in range(_PQ_M))
        rcols = ", ".join(f"ivf_code_{j} BIGINT" for j in range(_PQ_M))
        return spark.createDataFrame(
            [],
            f"vec_id BIGINT, {cols}, recon_err BIGINT, adc_dist BIGINT, "
            f"ivf_cell BIGINT, {rcols}, ivf_recon BIGINT, ivf_adc BIGINT",
        )
    # flat PQ
    books = pq.pq_train(
        emb, dim=_PQ_DIM, m=_PQ_M, k=_PQ_K, iterations=_PQ_ITERS
    )
    table = pq.adc_table(_PQ_QUERY, books)
    coded = emb.where(F.col("embedding").isNotNull()).select(
        "vec_id",
        pq.pq_encode_expr("embedding", books).alias("_codes"),
        pq.pq_reconstruction_error_expr("embedding", books).alias("recon_err"),
    )
    flat = coded.select(
        "vec_id",
        *[
            F.element_at("_codes", j + 1).alias(f"code_{j}")
            for j in range(_PQ_M)
        ],
        "recon_err",
        pq.pq_adc_dist_expr("_codes", table).alias("adc_dist"),
    )
    # IVFADC: coarse cells + residual PQ
    coarse, rbooks = pq.ivf_pq_train(
        emb, dim=_PQ_DIM, k_coarse=_IVF_KC, m=_PQ_M, k_sub=_PQ_K,
        iterations=_PQ_ITERS,
    )
    res = pq._residuals(emb, coarse, vec_col="embedding", id_col="vec_id",
                        shift=16)
    qv = _pq_query_quantized()
    tables = {
        cl: pq.adc_table(
            [float(a - b) for a, b in zip(qv, coarse[cl])], rbooks, shift=0
        )
        for cl in coarse
    }
    rcoded = res.select(
        "vec_id",
        F.col("_cell").cast("long").alias("ivf_cell"),
        pq.pq_encode_expr(F.col("_res"), rbooks, shift=0).alias("_rc"),
        pq.pq_reconstruction_error_expr(F.col("_res"), rbooks, shift=0)
        .alias("ivf_recon"),
    )
    ivf_adc = None
    for cl in sorted(coarse):
        d = pq.pq_adc_dist_expr("_rc", tables[cl])
        ivf_adc = (
            F.when(F.col("ivf_cell") == int(cl), d)
            if ivf_adc is None
            else ivf_adc.when(F.col("ivf_cell") == int(cl), d)
        )
    ivf = rcoded.select(
        "vec_id",
        "ivf_cell",
        *[
            F.element_at("_rc", j + 1).alias(f"ivf_code_{j}")
            for j in range(_PQ_M)
        ],
        "ivf_recon",
        ivf_adc.alias("ivf_adc"),
    )
    return flat.join(ivf, "vec_id")


def _pq_oracle() -> str:
    qv = _pq_query_quantized()
    emb_sql = (
        "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS embedding FROM embeddings"
    )
    chain = pq.pq_codes_ctes(
        emb_sql, dim=_PQ_DIM, m=_PQ_M, k=_PQ_K, iterations=_PQ_ITERS
    )
    a = _PQ_ITERS
    # flat ADC: distance from the quantized query subvector to the
    # assigned centroid = table[j][code_j] by construction
    adc_ctes, adc_cols = [], []
    for j in range(_PQ_M):
        qs = qv[j * _PQ_SUB : (j + 1) * _PQ_SUB]
        d2 = " + ".join(
            f"({q} - c.c[{i + 1}]) * ({q} - c.c[{i + 1}])"
            for i, q in enumerate(qs)
        )
        adc_ctes.append(
            f""",
p{j}_adc AS (
  SELECT a.id, CAST({d2} AS BIGINT) AS adc
  FROM p{j}_a{a} a JOIN p{j}_c{a - 1} c ON a.cl = c.cl
)"""
        )
        adc_cols.append(f"p{j}_adc.adc")
    # coarse chain + SQL-computed integer residuals
    from terra_bonobo_nodes_spark.llm import kmeans as _km

    cc = _km.kmeans_fixed_ctes(
        emb_sql, k=_IVF_KC, iterations=_PQ_ITERS, dim=_PQ_DIM, prefix="cc_"
    )
    qlit = "[" + ", ".join(str(v) for v in qv) + "]"
    res_cte = f""",
res AS (
  SELECT a.id, a.cl,
         list_transform(list_zip(q.x, c.c),
                        p -> CAST(p[1] - p[2] AS DOUBLE)) AS r
  FROM cc_a{a} a
  JOIN cc_q q ON q.id = a.id
  JOIN cc_c{a - 1} c ON c.cl = a.cl
), qres AS (
  SELECT cl, list_transform(list_zip(c, {qlit}), p -> p[2] - p[1]) AS qr
  FROM cc_c{a - 1}
)"""
    rchains, radc_ctes = [], []
    for j in range(_PQ_M):
        lo, hi = j * _PQ_SUB + 1, (j + 1) * _PQ_SUB
        rchains.append(
            _km.kmeans_fixed_ctes(
                f"SELECT id, list_slice(r, {lo}, {hi}) AS sub FROM res",
                vec_col="sub",
                id_col="id",
                k=_PQ_K,
                iterations=_PQ_ITERS,
                dim=_PQ_SUB,
                shift=0,
                prefix=f"r{j}_",
            )
        )
        radc_ctes.append(
            f""",
r{j}_adc AS (
  SELECT a.id,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(list_zip(list_slice(qr.qr, {lo}, {hi}), c.c),
                             p -> (p[1] - p[2]) * (p[1] - p[2]))),
              (acc, x) -> acc + x) AS BIGINT) AS adc
  FROM r{j}_a{a} a
  JOIN res ON res.id = a.id
  JOIN qres qr ON qr.cl = res.cl
  JOIN r{j}_c{a - 1} c ON c.cl = a.cl
)"""
        )
    code_cols = ", ".join(
        f"CAST(code_{j} AS BIGINT) AS code_{j}" for j in range(_PQ_M)
    )
    rcode_cols = ", ".join(
        f"CAST(r{j}_a{a}.cl AS BIGINT) AS ivf_code_{j}" for j in range(_PQ_M)
    )
    rrecon = " + ".join(f"r{j}_a{a}.d" for j in range(_PQ_M))
    radc = " + ".join(f"r{j}_adc.adc" for j in range(_PQ_M))
    joins = "\n  ".join(
        [f"JOIN p{j}_adc ON pq_codes.id = p{j}_adc.id" for j in range(_PQ_M)]
        + ["JOIN res ON res.id = pq_codes.id"]
        + [f"JOIN r{j}_a{a} ON r{j}_a{a}.id = pq_codes.id" for j in range(_PQ_M)]
        + [f"JOIN r{j}_adc ON r{j}_adc.id = pq_codes.id" for j in range(_PQ_M)]
    )
    return f"""
WITH {chain}{"".join(adc_ctes)},
{cc}{res_cte},
{",".join(rchains)}{"".join(radc_ctes)}
SELECT pq_codes.id AS vec_id, {code_cols}, recon_err,
       CAST({" + ".join(adc_cols)} AS BIGINT) AS adc_dist,
       CAST(res.cl AS BIGINT) AS ivf_cell,
       {rcode_cols},
       CAST({rrecon} AS BIGINT) AS ivf_recon,
       CAST({radc} AS BIGINT) AS ivf_adc
FROM pq_codes
  {joins}
"""


PQ_ORACLE = _pq_oracle()


# --- llm_bitext_margin_pairs (authored round 14, r15 candidate) ----------
# Margin-based bitext mining (llm/bitext.py, Artetxe & Schwenk 2019):
# the cross-lingual pairing step — embeddings split by vec_id parity
# into pseudo source/target collections, mutual best matches kept at
# ratio margin >= 1.0. Cosines are the fold-order-exact doubles the
# cosine rows already pin; ranks tie-break by id; margins are ratios
# of identically-computed doubles, so the oracle replays verdicts
# value-for-value (floats surfaced at 4dp for the hash).


def llm_bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from terra_bonobo_nodes_spark.llm import bitext

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = emb.where(F.pmod("vec_id", F.lit(2)) == 0)
    tgt = emb.where(F.pmod("vec_id", F.lit(2)) == 1)
    out = bitext.margin_knn_pairs(
        src, tgt, k=4, min_margin=1.0, mutual_only=True, max_rows=None
    )
    return out.select(
        "src_id",
        "tgt_id",
        F.round("cos_sim", 4).alias("cos_sim"),
        F.round("margin", 4).alias("margin"),
    )


def _bitext_oracle() -> str:
    from terra_bonobo_nodes_spark.llm import bitext

    inner = bitext.margin_knn_pairs_sql(
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0",
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1",
        k=4,
        min_margin=1.0,
        mutual_only=True,
    )
    return (
        "SELECT src_id, tgt_id, round(cos_sim, 4) AS cos_sim, "
        f"round(margin, 4) AS margin FROM ({inner})"
    )


BITEXT_ORACLE = _bitext_oracle()



# llm_sentence_stats ABSORBED late round 17: the due
# llm_repetition_ratios row widened with the four sentence-grain
# columns (plans/queries_llm.py — fn chained on the same scan, oracle
# leg verbatim; the anchor-leg capacity-partner route, zero rotation
# cost). llm/sentences.py and tests/test_sentences.py unchanged.


# --- llm_distinct_sketch_report: PROMOTED round 14 (zero-net merge) --------
# The KMV+HLL distinct-count report merged INTO the registered
# approx_distinct_users row (same event_type grain — the
# llm_blocked_hosts widening precedent): that row now hash-compares
# both from-scratch estimate VALUES next to the engine-internal HLL++
# error-bound predicate. See plans/queries_relational.py.


# --- llm_length_quantile_sketch: PROMOTED round 15 (zero-net merge) ----------
# The histogram quantile sketch (llm/quantiles.py — bounded-bin
# addition-mergeable percentiles with the coverage guarantee) merged
# INTO the registered llm_length_percentiles row, pivoted to source
# grain (sk{50,90,99}_{lo,hi,exact,covers} next to the exact
# interpolated p25..p99 — the approx_distinct_users precedent). See
# plans/queries_llm.py.


# --- layout_zorder_pruning (authored round 14, r15 candidate) ----------------
# Z-order data layout vs natural insert order, measured through zone
# maps (operators/layout.py): the same orders rows are laid into 64
# model files two ways — o_orderkey order (the insert-order default)
# and Morton(custkey, orderdate-day) order (what OPTIMIZE ZORDER BY
# does) — and a fixed panel of rectangle predicates counts how many
# files a min/max pruner must read under each. The row's VALUE is the
# comparison: customer-slice probes collapse from scan-everything to
# a handful of files under Z-order while time-slice probes stay
# prunable, quantifying the layout decision a 100 TB table lives with.
# Every quantity is BIGINT bit/ntile/window arithmetic — full replay.

_ZO_FILES = 64
# (probe_id, custkey_lo, custkey_hi, day_lo, day_hi) — days since
# epoch; data spans custkey [0, 1500), day ~[9131, 11535].
_ZO_PROBES = [
    (1, 100, 149, 9000, 12000),  # one customer block, all time
    (2, 0, 1500, 9862, 9891),  # one month, all customers
    (3, 400, 449, 10227, 10347),  # customer block x one quarter
    (4, 0, 99, 9131, 9495),  # low customers, first year
    (5, 1400, 1499, 11170, 11535),  # high customers, last year
    (6, 750, 760, 9000, 12000),  # narrow customer stripe, all time
]


def layout_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning comparison (operators/layout.py): morton_key
    is a 10-op codegen expression; file_assignments MODELS the write
    (production = repartitionByRange on the key); zone_maps is one
    bounded per-file aggregate; probe_scan_counts is a broadcast
    product of two tiny bounded sides (probes x files). files_natural
    vs files_zorder is the measured pruning win."""
    from terra_bonobo_nodes_spark.operators import layout

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("_day"),
    )

    def scan_counts(order_cols, label):
        placed = layout.file_assignments(orders, order_cols, _ZO_FILES)
        zones = layout.zone_maps(placed, "o_custkey", "_day")
        return layout.probe_scan_counts(zones, _ZO_PROBES).withColumnRenamed(
            "files_scanned", label
        )

    natural = scan_counts(["o_orderkey"], "files_natural")
    zordered = scan_counts(
        [
            layout.morton_key(F.col("o_custkey"), F.col("_day")).alias("_z"),
            "o_orderkey",
        ],
        "files_zorder",
    )
    keys = ["probe_id", "x_lo", "x_hi", "y_lo", "y_hi"]
    return natural.join(zordered, keys).select(*keys, "files_natural", "files_zorder")


def _zorder_oracle() -> str:
    from terra_bonobo_nodes_spark.operators.layout import morton_key_sql

    day = "(CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400)"
    probes = ", ".join(f"({p}, {xl}, {xh}, {yl}, {yh})" for p, xl, xh, yl, yh in _ZO_PROBES)

    def layout_cte(name: str, order_by: str) -> str:
        return f"""
_{name}_placed AS (
  SELECT o_custkey AS x, d AS y,
         ntile({_ZO_FILES}) OVER (ORDER BY {order_by}) AS file_id
  FROM _zo_src
),
_{name}_zones AS (
  SELECT file_id, min(x) AS min_x, max(x) AS max_x,
         min(y) AS min_y, max(y) AS max_y
  FROM _{name}_placed GROUP BY 1
),
_{name}_scans AS (
  SELECT p.probe_id, p.x_lo, p.x_hi, p.y_lo, p.y_hi,
         sum(CASE WHEN z.max_x >= p.x_lo AND z.min_x <= p.x_hi
                   AND z.max_y >= p.y_lo AND z.min_y <= p.y_hi
              THEN 1 ELSE 0 END)::BIGINT AS files_scanned
  FROM _zo_probes p CROSS JOIN _{name}_zones z
  GROUP BY 1, 2, 3, 4, 5
)"""

    return f"""
WITH _zo_src AS (
  SELECT o_orderkey, o_custkey, {day} AS d FROM orders
),
_zo_probes(probe_id, x_lo, x_hi, y_lo, y_hi) AS (VALUES {probes}),
{layout_cte("nat", "o_orderkey")},
{layout_cte("zo", f"{morton_key_sql('o_custkey', 'd')}, o_orderkey")}
SELECT n.probe_id,
       CAST(n.x_lo AS INT) AS x_lo, CAST(n.x_hi AS INT) AS x_hi,
       CAST(n.y_lo AS INT) AS y_lo, CAST(n.y_hi AS INT) AS y_hi,
       n.files_scanned AS files_natural,
       z.files_scanned AS files_zorder
FROM _nat_scans n
JOIN _zo_scans z ON z.probe_id = n.probe_id
"""


ZORDER_ORACLE = _zorder_oracle()

# ROUND-17 PROMOTION (ledger item 4): registered, RETIRING
# spatial_zorder_code (plans/queries_geo.py) — the pruning measurement
# exercises the same morton_code interleave AND adds the zone-map
# scan-count value the code row lacked.
register(
    "layout_zorder_pruning",
    oracle=ZORDER_ORACLE,
    headline=True,  # promoted rows join the bench set (VERDICT_r15 #4)
    tags=("layout", "spatial"),
)(layout_zorder_pruning)


# --- llm_priority_sample_report: RETIRED from the queue (round 15) -----------
# The lang-grain DLT audit report left the queue when the r16 staging
# replaced it with the DOC-grain llm_sample_surface_wide (the widened
# registered row carries priority_rank next to the reservoir/quota
# verdicts). The operator pair (wsample.priority_sample /
# priority_sample_report) and both SQL mirrors stay live and pinned in
# tests/test_wsample.py; the report-grain row form was dead weight
# once nothing swept its oracle (review finding r15).


# --- llm_bpe_merges (authored round 15, queue tail) ---------------------------
# BPE merge learning (llm/bpe.py — Sennrich 2016, the tokenizer-
# training step every LLM vocabulary comes from): the first 8 merges
# over the documents corpus, learned distributed (word-count table is
# the working set; each round = one combinable pair aggregate + a
# 1-row argmax + a pure-Column rewrite — the llm/kmeans.py bounded-
# driver-state shape, 8 pairs total on the driver). Merge-grain row;
# counts and tie-breaks exact integers/strings, so the oracle's
# unrolled 8-round CTE chain hash-compares bit-for-bit.

_BPE_M = 8


def llm_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(merge_rank, sym_a, sym_b, pair_count) — the learned merge
    table, priority-ordered. The artifact a tokenizer ships."""
    from terra_bonobo_nodes_spark.llm import bpe

    docs = load_table(spark, sf_dir, "documents").select("text")
    merges = bpe.bpe_learn(docs, "text", n_merges=_BPE_M)
    return spark.createDataFrame(
        merges, "merge_rank int, sym_a string, sym_b string, pair_count long"
    )


def _bpe_oracle() -> str:
    from terra_bonobo_nodes_spark.llm.bpe import bpe_merges_sql

    return (
        "SELECT CAST(merge_rank AS INT) AS merge_rank, sym_a, sym_b, "
        "CAST(pair_count AS BIGINT) AS pair_count FROM ("
        + bpe_merges_sql("SELECT text FROM documents", "text", _BPE_M, TOKS_SQL)
        + ")"
    )


BPE_ORACLE = _bpe_oracle()


# --- llm_sample_surface_wide: PROMOTED round 16 (ledger item 2) ---------------
# The staged combined row left the queue by widening the registered
# llm_sample_surface IN PLACE (plans/queries_llm.py — + priority_rank,
# the DLT weighted per-language rank; the oracle composes the base
# surface with wsample's row-grain SQL mirror there). Zero net slots.


# --- p_record_ops_surface (authored round 16 — the r17 consolidation) --------
# VERDICT_r15 "What's wrong" #1: p1/p2/p3/p4/p5/p6/p7/p9/p11 are NINE
# separate driver rows for one-line record ops (operators/records.py,
# operators/arrays.py), all refreshed together and all due together —
# the rotation's biggest slot sink. This surface re-authors every one
# of them at ONE grain (lineitem rows, the table's own key) with each
# op's oracle check kept verbatim as a column, the
# fn_scalar_surface/g7_transform_surface precedent:
#   P1  identifier_from_property  -> p1_identifier (cast-to-string copy)
#   P2  generate_identifier (md5) -> p2_identifier
#   P3  exclude_attributes        -> p3_cols (surviving-schema literal;
#       includes a missing name, pinning the tolerant-drop contract)
#   P4  filter_attributes         -> p4_cols (whitelist literal)
#   P5  filter_by_properties      -> p5_kept (the REAL op run twice,
#       kept/dropped partition union — exact row multiset, no join)
#   P6  map_properties            -> p6_net_price / p6_charge
#   P7  min_array_attribute       -> p7_qty_min (collect_list at order
#       grain + array_min, joined back — the A3 composition unchanged)
#   P9  drop_identifier           -> p9_dropped_ok (schema verdict; the
#       surface's dataflow runs THROUGH the add-then-drop composition)
#   P11 accessibility_ratio_by_time -> p11_accessibility_ratio
# Scale shape: one lineitem scan (read twice by the kept/dropped
# union's two filters — both pushed to the scan) + one combinable
# groupBy(l_orderkey) + one key-equi join back (AQE broadcasts the
# per-order mins at small SF; at 100 TB both shuffles share the
# table's own key).
# P10 (hstore) keeps its own row: a real parser, not a projection.

_P3_EXCLUDE = ["l_shipdate", "l_linestatus", "not_a_column"]
_P4_KEEP = ["l_orderkey", "l_returnflag", "l_shipdate"]


def p_record_ops_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every record-shaping operator's contract on one row per
    lineitem — the r17 retire-and-replace for the nine standalone
    record-op rows."""
    from terra_bonobo_nodes_spark.operators.arrays import (
        accessibility_ratio_by_time,
        min_array_attribute,
    )
    from terra_bonobo_nodes_spark.operators.records import (
        drop_identifier,
        exclude_attributes,
        filter_attributes,
        filter_by_properties,
        generate_identifier,
        identifier_from_property,
        map_properties,
    )

    # spread the unsplittable single-row-group scan: every per-row op
    # below (md5 identifier, HOF accessibility ratio) otherwise runs
    # on ONE task per union branch while 31 cores idle; the union's
    # two branches and the P7 aggregate all reuse the one exchange
    # (guide §2.5 repartition-after-read; spread_small_scan no-ops on
    # any already-split input, so a real 100 TB scan is untouched)
    li = spread_small_scan(load_table(spark, sf_dir, "lineitem"))

    # schema-contract ops on the raw table -> literal verdict columns
    p3_cols = ",".join(sorted(exclude_attributes(li, _P3_EXCLUDE).columns))
    p4_cols = ",".join(sorted(filter_attributes(li, _P4_KEEP).columns))

    # value ops chained on ONE frame (each a withColumn/withColumns)
    cur = identifier_from_property(li, "l_orderkey", "p1_identifier")
    gen = F.md5(
        F.encode(
            F.concat_ws(
                "-",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            ),
            "UTF-8",
        )
    )
    cur = generate_identifier(cur, gen, identifier_col="p2_identifier")
    net = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    cur = map_properties(
        cur,
        {"p6_net_price": net, "p6_charge": net * (F.lit(1.0) + F.col("l_tax"))},
    )
    cur = cur.withColumn(
        "times",
        F.array(
            F.array(F.col("l_quantity"), F.col("l_extendedprice")),
            F.array(F.col("l_discount"), F.col("l_tax")),
        ),
    )
    cur = accessibility_ratio_by_time(cur, "times", [25.0, 1000.0])
    # P9: the dataflow itself passes through add-identifier -> drop.
    # The verdict checks BOTH legs — the add must land (dropping a
    # missing column would be a silent no-op) and the drop must
    # remove it.
    with_id = identifier_from_property(cur, "l_orderkey")
    cur = drop_identifier(with_id)
    p9_dropped_ok = (
        "identifier" in with_id.columns and "identifier" not in cur.columns
    )

    # P5: the real filter op, exercised as a kept/dropped partition —
    # union of filter(pred) and filter(~pred) keeps the exact row
    # multiset with zero joins ((l_orderkey, l_linenumber) is NOT
    # unique in the synthetic lineitem, so a membership join-back
    # would multiply rows). Exact for non-NULL predicates, which this
    # one is on these columns.
    p5_pred = (F.col("l_quantity") > 30) & (F.col("l_returnflag") == "R")
    cur = filter_by_properties(cur, p5_pred).withColumn(
        "p5_kept", F.lit(True)
    ).unionByName(
        filter_by_properties(cur, ~p5_pred).withColumn(
            "p5_kept", F.lit(False)
        )
    )

    # P7/A3: collect_list at order grain + array_min, joined back
    # (one row per l_orderkey, so the join preserves cardinality)
    arrays = li.groupBy("l_orderkey").agg(
        F.collect_list("l_quantity").alias("p7_qty_min")
    )
    mins = min_array_attribute(arrays, "p7_qty_min")

    return (
        cur.join(mins, "l_orderkey")
        .select(
            "l_orderkey",
            "l_linenumber",
            "p1_identifier",
            "p2_identifier",
            F.lit(p3_cols).alias("p3_cols"),
            F.lit(p4_cols).alias("p4_cols"),
            "p5_kept",
            "p6_net_price",
            "p6_charge",
            "p7_qty_min",
            F.lit(p9_dropped_ok).alias("p9_dropped_ok"),
            F.col("accessibility_ratio").alias("p11_accessibility_ratio"),
        )
    )


P_RECORD_OPS_ORACLE = """
SELECT l_orderkey, l_linenumber,
       CAST(l_orderkey AS VARCHAR) AS p1_identifier,
       md5(concat_ws('-', CAST(l_orderkey AS VARCHAR),
                          CAST(l_linenumber AS VARCHAR))) AS p2_identifier,
       'l_discount,l_extendedprice,l_linenumber,l_orderkey,l_partkey,l_quantity,l_returnflag,l_suppkey,l_tax'
         AS p3_cols,
       'l_orderkey,l_returnflag,l_shipdate' AS p4_cols,
       (l_quantity > 30 AND l_returnflag = 'R') AS p5_kept,
       (l_extendedprice * (1.0 - l_discount)) AS p6_net_price,
       ((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)) AS p6_charge,
       min(l_quantity) OVER (PARTITION BY l_orderkey) AS p7_qty_min,
       TRUE AS p9_dropped_ok,
       ((CASE WHEN l_quantity <= 25.0 OR l_extendedprice <= 1000.0 THEN 1 ELSE 0 END)
      + (CASE WHEN l_discount <= 25.0 OR l_tax <= 1000.0 THEN 1 ELSE 0 END)) / 2.0
         AS p11_accessibility_ratio
FROM lineitem
"""

# ROUND-17 PROMOTION (ledger item 1): registered, RETIRING the NINE
# one-line record-op rows p1/p2/p3/p4/p5/p6/p7/p9/p11
# (plans/queries_relational.py) — identical per-op oracle coverage at
# one lineitem grain, permanent -9 on every future due cohort.
register(
    "p_record_ops_surface",
    oracle=P_RECORD_OPS_ORACLE,
    headline=True,  # promoted rows join the bench set (VERDICT_r15 #4)
    tags=("records", "surface"),
)(p_record_ops_surface)


# --- g_scalar_geometry_surface (authored round 16 — the r17 consolidation) ---
# The same pass for the scalar-geometry rows: g2 (x/y attrs -> point
# round-trip), g5 (3D -> 2D), g6 (Douglas-Peucker endpoints
# invariant), g8 (subdivision preserves area) shared nothing but a
# grain-per-table; re-authored here at SUPPLIER grain with every row's
# closed-form oracle check verbatim as columns. g9 stays its own row —
# it is a line x polygon overlay JOIN against the tile layer, not a
# scalar kernel. Scale shape: one supplier scan of pure Column
# kernels; the g8 branch subdivides (bounded fan-out, <= 4 parts per
# 12-gon at max_vertices=8), sums per identifier (combinable) and
# joins back on the table's own key.


def g_scalar_geometry_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g2/g5/g6/g8 on one row per supplier — the r17
    retire-and-replace for the four standalone scalar-geometry rows."""
    import math

    from terra_bonobo_nodes_spark.geo import kernels as K
    from terra_bonobo_nodes_spark.operators.spatial import (
        attributes_to_point_geometry,
        geometry_3d_to_2d,
    )

    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_acctbal"
    )

    # G2: string x/y attributes -> point -> coordinate round-trip
    pts = attributes_to_point_geometry(
        supp.select(
            "s_suppkey",
            "s_acctbal",
            F.col("s_acctbal").cast("string").alias("x"),
            F.pmod(F.col("s_suppkey"), F.lit(90)).cast("string").alias("y"),
        ),
        "x",
        "y",
    )
    # G5: 3D point (z = s_suppkey) flattened back to 2D
    p3d = pts.withColumn(
        "g5geom",
        K.st_pointz(
            F.col("s_acctbal"), F.col("s_acctbal") % 7.0, F.col("s_suppkey")
        ),
    )
    flat = geometry_3d_to_2d(p3d, "g5geom")
    # G6: 5-vertex zigzag (deviation 0.4 < tolerance 0.5) -> endpoints
    span = (F.col("s_acctbal") % 500.0).alias("span")
    sp = F.col("span")
    wkt = F.concat(
        F.lit("LINESTRING (0 0, "),
        (sp / 4).cast("string"), F.lit(" 0.4, "),
        (sp / 2).cast("string"), F.lit(" -0.4, "),
        (sp * 3 / 4).cast("string"), F.lit(" 0.4, "),
        sp.cast("string"), F.lit(" 0)"),
    )
    lines = flat.withColumn("span", span)
    # r18 fusion: st_x/st_y pairs share one parse (st_xy), and the g6
    # simplify -> npoints/centroid chain collapses into ONE kernel
    # (st_simplify_summary) — with no shared Python intermediate left,
    # the whole scalar branch extracts as a single ArrowEvalPython
    # node instead of two (the simplified-WKB column forced a split)
    g2 = K.st_xy("geom")
    g5 = K.st_xy("g5geom")
    g6 = K.st_simplify_summary(K.st_geomfromtext(wkt), 0.5)
    scalars = lines.select(
        "s_suppkey",
        g2["x"].alias("g2_px"),
        g2["y"].alias("g2_py"),
        g5["x"].alias("g5_fx"),
        g5["y"].alias("g5_fy"),
        g6["n_points"].cast("int").alias("g6_n_points"),
        (g6["cx"] * 2).alias("g6_span"),
    )

    # G8: 12-gon of radius r, subdivided; child areas sum to 3 r^2
    g8 = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("string").alias("identifier"),
        (F.lit(2.0) + (F.col("s_acctbal") % 5.0)).alias("r"),
    )
    pieces = [F.lit("POLYGON ((")]
    for k in range(13):
        ang = 2 * math.pi * (k % 12) / 12
        pieces.append((F.col("r") * F.lit(math.cos(ang))).cast("string"))
        pieces.append(F.lit(" "))
        pieces.append((F.col("r") * F.lit(math.sin(ang))).cast("string"))
        if k < 12:
            pieces.append(F.lit(", "))
    poly_wkt = F.concat(*pieces, F.lit("))"))
    # r18 fusion: parse -> make_valid -> subdivide -> per-part area in
    # ONE crossing (st_subdivide_areas); the explode + child-id round
    # trip and the decimal sum stay verbatim JVM-side, so the grouped
    # arithmetic (and the hash) is unchanged — but no per-part WKB
    # crosses back and three ArrowEvalPython nodes disappear
    polys = g8.withColumn(
        "areas",
        K.st_subdivide_areas(K.st_geomfromtext(poly_wkt), max_vertices=8),
    )
    parts = polys.select(
        "identifier", F.posexplode("areas").alias("_pos", "part_area")
    ).withColumn(
        "identifier", F.concat_ws("-", F.col("identifier"), F.col("_pos"))
    )
    areas = (
        parts.withColumn(
            "identifier", F.substring_index(F.col("identifier"), "-", 1)
        )
        .groupBy("identifier")
        .agg(
            F.round(
                F.sum(F.col("part_area").cast("decimal(20,12)")).cast("double"),
                6,
            ).alias("g8_total_area")
        )
        .select(
            F.col("identifier").cast("long").alias("s_suppkey"),
            "g8_total_area",
        )
    )
    return scalars.join(areas, "s_suppkey")


G_SCALAR_GEOMETRY_ORACLE = """
SELECT s_suppkey,
       s_acctbal AS g2_px,
       CAST(s_suppkey % 90 AS DOUBLE) AS g2_py,
       s_acctbal AS g5_fx,
       (s_acctbal % 7.0) AS g5_fy,
       2 AS g6_n_points,
       (s_acctbal % 500.0) AS g6_span,
       round(3.0 * (2.0 + (s_acctbal % 5.0)) * (2.0 + (s_acctbal % 5.0)), 6)
         AS g8_total_area
FROM supplier
"""

# ROUND-17 PROMOTION (ledger item 2): registered, RETIRING the four
# scalar-geometry rows g2/g5/g6/g8 (plans/queries_geo.py) — each
# kernel's closed-form oracle check verbatim at one supplier grain.
register(
    "g_scalar_geometry_surface",
    oracle=G_SCALAR_GEOMETRY_ORACLE,
    headline=True,  # promoted rows join the bench set (VERDICT_r15 #4)
    tags=("geometry", "surface"),
)(g_scalar_geometry_surface)




# stream_window_agg_surface_wide PROMOTED round 17: the staged merge
# moved into plans/queries_streaming.py as the registered
# stream_window_agg_surface (third union leg kind='props', retiring
# stream_props_json_rollup — ledger item 3 funding).


# llm_codec_throughput_pinned / llm_audio_spectral_pinned PROMOTED
# round 17: the KAT-pinned forms swapped INTO the registered
# llm_codec_throughput / llm_audio_spectral rows (plans/queries_llm.py
# — VERDICT_r15 item 6; the registry's no-oracle count is now ZERO).


# --- s_document_roundtrip_surface (authored round 17 — the r18
# consolidation, PLANS.md scan item 1) ---------------------------------------
# The four content-codec roundtrip rows (s1 CSV, s2 GeoJSON, s8 zip,
# s9 JSONL — plans/queries_sources.py) each prove "pack a table into
# payload documents, run the real source operator, recover the rows",
# but over four DIFFERENT tables, so they cost four driver slots that
# refresh (and fall due) together. This surface re-authors all four
# roundtrips at ONE grain — (kind, doc_id) over documents — the
# p_record_ops_surface re-author pattern, not a union of the old rows:
#   csv     csv_documents_to_rows   metadata + md5 digest (CSV cannot
#           carry free text unquoted; the digest IS the payload, and
#           hash equality proves the codec moved it intact)
#   jsonl   jsonl_documents_to_rows the REAL text through the codec
#           (to_json escaping both ways), digest computed after
#   zip     zip_reader              the REAL text bytes as the entry
#           payload; lang/doc_id/n_chars ride the entry path (the
#           corpus-archive layout convention), digest after
#   geojson geojson_reader          metadata + digest as feature
#           properties, doc_id as the feature id, plus the geometry
#           roundtrip (gx/gy from st_x/st_y; NULL on the other legs)
# Every leg's packing is one groupBy(source) collect_list (20 payload
# documents); parsing stays JVM-side for csv/jsonl (from_csv /
# from_json) and Arrow-batched for zip/geojson (mapInPandas), so at
# 100 TB the only shuffle is the per-source packing — and a real
# corpus arrives already packed, skipping it entirely.
# Registration partners (r18 ledger item 1): retires
# s1_csv_document_roundtrip / s2_geojson_reader_roundtrip /
# s8_zip_reader_roundtrip / s9_jsonl_roundtrip.


def s_document_roundtrip_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four content-codec roundtrips (CSV / JSONL / zip / GeoJSON)
    at one documents grain, union-tagged by kind — the r18
    retire-and-replace for the four standalone s-family rows."""
    import pandas as pd

    from terra_bonobo_nodes_spark.geo import kernels as K
    from terra_bonobo_nodes_spark.sources.archive import zip_reader
    from terra_bonobo_nodes_spark.sources.csv import csv_documents_to_rows
    from terra_bonobo_nodes_spark.sources.geojson import geojson_reader
    from terra_bonobo_nodes_spark.sources.jsonl import jsonl_documents_to_rows

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "lang", "n_chars", "text"
    )
    base = docs.withColumn("text_chk", F.md5(F.encode("text", "UTF-8")))
    null_d = F.lit(None).cast("double")

    # csv: header line + one row per doc, packed per source
    line = F.concat_ws(
        ",",
        F.col("doc_id").cast("string"),
        F.col("lang"),
        F.col("n_chars").cast("string"),
        F.col("text_chk"),
    )
    csv_docs = (
        base.withColumn("_line", line)
        .groupBy("source")
        .agg(
            F.concat_ws(
                "\n",
                F.lit("doc_id,lang,n_chars,text_chk"),
                F.concat_ws("\n", F.sort_array(F.collect_list("_line"))),
            ).alias("content")
        )
    )
    csv_leg = csv_documents_to_rows(
        csv_docs, "content", header=["doc_id", "lang", "n_chars", "text_chk"]
    ).select(
        F.lit("csv").alias("kind"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        "text_chk",
        null_d.alias("gx"),
        null_d.alias("gy"),
    )

    # jsonl: one escaped JSON object per line, real text both ways
    jline = F.to_json(F.struct("doc_id", "lang", "n_chars", "text"))
    j_docs = (
        docs.withColumn("_line", jline)
        .groupBy("source")
        .agg(F.concat_ws("\n", F.sort_array(F.collect_list("_line"))).alias("content"))
    )
    jsonl_leg = jsonl_documents_to_rows(
        j_docs, "content", "doc_id BIGINT, lang STRING, n_chars BIGINT, text STRING"
    ).select(
        F.lit("jsonl").alias("kind"),
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.encode("text", "UTF-8")).alias("text_chk"),
        null_d.alias("gx"),
        null_d.alias("gy"),
    )

    # zip: one archive per source; text bytes are the entry payload,
    # metadata rides the entry path ("{lang}/{doc_id}_{n_chars}.txt")
    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        import io
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for _, row in pdf.sort_values("doc_id").iterrows():
                zf.writestr(f"{row.lang}/{row.doc_id}_{row.n_chars}.txt", row.text)
        return pd.DataFrame({"content": [buf.getvalue()]})

    zips = docs.groupBy("source").applyInPandas(pack, "content BINARY")
    zip_leg = zip_reader(zips, "content").select(
        F.lit("zip").alias("kind"),
        F.regexp_extract("name", r"/(\d+)_", 1).cast("long").alias("doc_id"),
        F.regexp_extract("name", r"^([^/]+)/", 1).alias("lang"),
        F.regexp_extract("name", r"_(\d+)\.txt$", 1).cast("long").alias("n_chars"),
        F.md5("content").alias("text_chk"),
        null_d.alias("gx"),
        null_d.alias("gy"),
    )

    # geojson: one FeatureCollection per source; to_json builds each
    # feature (escaping-safe, unlike raw concat), st_x/st_y prove the
    # coordinates survived the parse
    gx = ((F.col("doc_id") % 360) - 180).cast("double")
    gy = ((F.col("doc_id") % 170) - 85).cast("double")
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.col("doc_id").cast("string").alias("id"),
            F.struct(
                F.lit("Point").alias("type"),
                F.array(gx, gy).alias("coordinates"),
            ).alias("geometry"),
            F.struct(
                F.col("lang"),
                F.col("n_chars").cast("string").alias("n_chars"),
                F.col("text_chk"),
            ).alias("properties"),
        )
    )
    g_docs = (
        base.withColumn("_f", feature)
        .groupBy("source")
        .agg(
            F.concat(
                F.lit('{"type":"FeatureCollection","features":['),
                F.concat_ws(",", F.sort_array(F.collect_list("_f"))),
                F.lit("]}"),
            ).alias("content")
        )
    )
    xy = K.st_xy("geom")
    geo_leg = geojson_reader(g_docs, "content").select(
        F.lit("geojson").alias("kind"),
        F.col("feature_id").cast("long").alias("doc_id"),
        F.col("properties").getItem("lang").alias("lang"),
        F.col("properties").getItem("n_chars").cast("long").alias("n_chars"),
        F.col("properties").getItem("text_chk").alias("text_chk"),
        xy["x"].alias("gx"),
        xy["y"].alias("gy"),
    )

    return (
        csv_leg.unionByName(jsonl_leg).unionByName(zip_leg).unionByName(geo_leg)
    )


S_DOC_ROUNDTRIP_ORACLE = """
SELECT 'csv' AS kind, doc_id, lang, n_chars, md5(text) AS text_chk,
       CAST(NULL AS DOUBLE) AS gx, CAST(NULL AS DOUBLE) AS gy
FROM documents
UNION ALL
SELECT 'jsonl', doc_id, lang, n_chars, md5(text),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM documents
UNION ALL
SELECT 'zip', doc_id, lang, n_chars, md5(text),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM documents
UNION ALL
SELECT 'geojson', doc_id, lang, n_chars, md5(text),
       CAST((doc_id % 360) - 180 AS DOUBLE),
       CAST((doc_id % 170) - 85 AS DOUBLE)
FROM documents
"""


# --- j2_overlay_surface (authored round 17 — registered LATE r17,
# PLANS.md scan item 2 / registry.py addendum) --------------------------------
# j2_intersection_percent_by_area / j2_concave_overlay_percent /
# j2_dissolve_overlapping_layer (plans/queries_geo.py) all output the
# identical (c_custkey, intersection_percent) grain over the
# customer-rect x tile fixtures (grain checked r17) — three slots for
# three physical paths of ONE operator. This surface runs all three
# paths union-tagged by strategy, each leg's fixture and oracle text
# verbatim:
#   pairwise  axis-aligned rects x disjoint tiles (the rect fast path)
#   concave   L-shapes both sides (the general triangulated overlay)
#   dissolve  heavily overlapping tiles with dissolve=True (clipped
#             zones unioned before measuring)
# Scale shape per leg is unchanged from the standalone rows: envelope
# grid join + per-record combinable sum; the union adds no join.
# Registration partners (r18 ledger item 2): retires all three j2 rows.


def j2_overlay_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IntersectionPercentByArea through its three physical paths
    (rect fast path / triangulated overlay / dissolve union) at one
    (strategy, c_custkey) grain — the retire-and-replace for the
    three standalone j2 rows (registered late r17)."""
    from terra_bonobo_nodes_spark.geo import kernels as K
    from terra_bonobo_nodes_spark.operators.spatial import (
        intersection_percent_by_area,
    )
    from terra_bonobo_nodes_spark.plans.queries_geo import (
        _customer_ells,
        _customer_rects,
        _ell_tile_layer,
        _tile_layer,
    )

    def leg(out: DataFrame, strategy: str) -> DataFrame:
        return out.select(
            F.lit(strategy).alias("strategy"),
            F.col("identifier").cast("long").alias("c_custkey"),
            F.round("intersection_percent", 6).alias("intersection_percent"),
        )

    prep = dict(record_geom="prep", layer_geom="layer_prep")
    pairwise = leg(
        intersection_percent_by_area(
            _customer_rects(spark, sf_dir), _tile_layer(spark), **prep
        ),
        "pairwise",
    )
    concave = leg(
        intersection_percent_by_area(
            _customer_ells(spark, sf_dir), _ell_tile_layer(spark), **prep
        ),
        "concave",
    )

    # dissolve fixture: 4x4 squares on a (kx, ky) lattice vs 40
    # grid-snapped heavily overlapping 4x4 tiles (the standalone row's
    # fixture verbatim)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 7).cast("double").alias("kx"),
        (F.col("c_custkey") % 5).cast("double").alias("ky"),
    )
    kx, ky = F.col("kx"), F.col("ky")
    # fused vectorized prep — see _customer_rects
    rpp = K.st_poly_prep(
        F.array(kx, kx + 4, kx + 4, kx),
        F.array(ky, ky, ky + 4, ky + 4),
    )
    records = cust.select(F.col("c_custkey").alias("identifier"), rpp.alias("prep"))
    t = spark.range(0, 40, 1, 1)  # one partition — see _tile_layer
    x0 = (F.col("id") % 5).cast("double")
    y0 = (F.col("id") % 4).cast("double")
    tpp = K.st_poly_prep(
        F.array(x0, x0 + 4, x0 + 4, x0),
        F.array(y0, y0, y0 + 4, y0 + 4),
    )
    tiles = t.select(tpp.alias("layer_prep"))
    dissolve = leg(
        intersection_percent_by_area(records, tiles, dissolve=True, **prep),
        "dissolve",
    )

    return pairwise.unionByName(concave).unionByName(dissolve)


# Each leg's oracle is the standalone row's oracle text verbatim,
# wrapped as a subquery under its strategy literal (the WITH scopes
# stay per-leg, so the shared fixture names don't clash).
J2_OVERLAY_ORACLE = f"""
SELECT 'pairwise' AS strategy, q.* FROM (
WITH {RECTS_SQL.strip()}, {TILES_SQL.strip()},
ov AS (
  SELECT r.c_custkey,
         greatest(0, least(r.cx + 3, t.x0 + 10) - greatest(r.cx - 3, t.x0))
       * greatest(0, least(r.cy + 3, t.y0 + 10) - greatest(r.cy - 3, t.y0)) AS a
  FROM rect r CROSS JOIN tiles t)
SELECT r.c_custkey,
       round(coalesce(s.total, 0.0) / 36.0, 6) AS intersection_percent
FROM rect r LEFT JOIN
  (SELECT c_custkey, sum(a) AS total FROM ov WHERE a > 1e-12 GROUP BY c_custkey) s
  USING (c_custkey)
) q
UNION ALL
SELECT 'concave', q.* FROM (
WITH {RECTS_SQL.strip()}, {TILES_SQL.strip()}, {ELLS_SQL.strip()}, {ELL_TILES_SQL.strip()},
ov AS (
  SELECT l.c_custkey,
         greatest(0, least(l.rx1, t.tx1) - greatest(l.rx0, t.tx0))
       * greatest(0, least(l.ry1, t.ty1) - greatest(l.ry0, t.ty0)) AS a
  FROM lrec l CROSS JOIN ltile t)
SELECT r.c_custkey,
       round(coalesce(s.total, 0.0) / 12.0, 6) AS intersection_percent
FROM rect r LEFT JOIN
  (SELECT c_custkey, sum(a) AS total FROM ov WHERE a > 1e-12 GROUP BY c_custkey) s
  USING (c_custkey)
) q
UNION ALL
SELECT 'dissolve', q.* FROM (
WITH rec AS (
  SELECT c_custkey,
         CAST(c_custkey % 7 AS BIGINT) AS kx,
         CAST(c_custkey % 5 AS BIGINT) AS ky
  FROM customer),
tile_cells AS (
  SELECT DISTINCT (t.i % 5) + dx.i AS cx, (t.i % 4) + dy.i AS cy
  FROM range(40) t(i)
  CROSS JOIN range(4) dx(i) CROSS JOIN range(4) dy(i)),
rec_cells AS (
  SELECT r.c_custkey, r.kx + dx.i AS cx, r.ky + dy.i AS cy
  FROM rec r CROSS JOIN range(4) dx(i) CROSS JOIN range(4) dy(i)),
covered AS (
  SELECT rc.c_custkey, count(*) AS n
  FROM rec_cells rc JOIN tile_cells tc ON rc.cx = tc.cx AND rc.cy = tc.cy
  GROUP BY rc.c_custkey)
SELECT r.c_custkey,
       round(coalesce(c.n, 0) / 16.0, 6) AS intersection_percent
FROM rec r LEFT JOIN covered c USING (c_custkey)
) q
"""

# LATE-r17 PROMOTION (r18 ledger item 2 executed early — registry.py
# addendum): REGISTERED, retiring j2_intersection_percent_by_area /
# j2_concave_overlay_percent / j2_dissolve_overlapping_layer
# (plans/queries_geo.py keeps the shared fixtures + retirement note).
# Forced by the freshness contract: the dissolve rect fast path
# (operators/spatial.py, authored while staging this surface) changes
# the three retired rows' code, and their changed-code driver row
# lands HERE — the surface runs all three legs in this round's window.
register(
    "j2_overlay_surface",
    oracle=J2_OVERLAY_ORACLE,
    headline=True,  # promoted rows join the bench set (VERDICT_r15 #4)
    tags=("J2", "overlay", "surface"),
)(j2_overlay_surface)


CANDIDATES: dict[str, tuple] = {
    # Dict order IS the promotion rank (kept in sync by review finding
    # r14). The entire r17 plan head left the queue at round 17:
    # p_record_ops_surface / g_scalar_geometry_surface /
    # corpus_version_diff / corpus_drift_psi / llm_novelty_scores /
    # layout_zorder_pruning REGISTERED (above, with their retirement
    # partners named in the ledger); stream_window_agg_surface_wide
    # moved into queries_streaming.py as the registered surface;
    # the two KAT-pinned rows swapped into the registered
    # llm_codec_throughput / llm_audio_spectral (queries_llm.py).
    # The r18 consolidation surface heads the rank (registered FIRST
    # at r18, retiring s1/s2/s8/s9 — its authoring comment above names
    # them; the 4 retirements fund the 4 llm promotions below it under
    # add-one-retire-one). j2_overlay_surface left the queue LATE r17:
    # registered early (registry.py addendum) when the dissolve rect
    # fast path changed its retirees' code.
    "s_document_roundtrip_surface": (
        s_document_roundtrip_surface,
        S_DOC_ROUNDTRIP_ORACLE,
    ),
    # the standing queue (round-14 ledger rank), heads r18 after the
    # surface:
    "llm_kmeans_fixed_cells": (llm_kmeans_fixed_cells, KMEANS_ORACLE),
    # llm_anchor_text_topk left the queue round 17: widened into the
    # registered llm_link_graph_rank surface (anchor union leg, above).
    "llm_token_budget_mix": (llm_token_budget_mix, TOKEN_BUDGET_ORACLE),
    "llm_fuzzy_title_pairs": (llm_fuzzy_title_pairs, FUZZY_ORACLE),
    "llm_pq_codes": (llm_pq_codes, PQ_ORACLE),
    "llm_bitext_margin_pairs": (llm_bitext_margin_pairs, BITEXT_ORACLE),
    # llm_sentence_stats left the queue late round 17: absorbed into
    # the due llm_repetition_ratios row (chained projection, above).
    # llm_perplexity_buckets left the queue late round 17: absorbed
    # into the due llm_lm_entropy_surface (ppl_bucket column, above).
    "llm_dsir_logweights": (llm_dsir_logweights, DSIR_ORACLE),
    # llm_bloom_decontaminate left the queue late round 17: absorbed
    # into the due llm_decontamination_surface (third leg, above).
    "llm_cms_token_freq": (llm_cms_token_freq, CMS_ORACLE),
    "llm_length_outliers": (
        llm_length_outliers,
        LENGTH_OUTLIERS_ORACLE,
    ),
    "cms_join_size_report": (
        cms_join_size_report,
        JOIN_SIZE_ORACLE,
    ),
    # events_conversion_funnel / events_cohort_retention left the
    # queue round 16: REGISTERED (retiring funnel_view_click_purchase /
    # cohort_daily_retention — ledger items 3-4).
    # llm_curation_funnel / llm_readability_scores /
    # llm_length_quantile_sketch left the queue round 15: registered as
    # llm_source_rule_funnel / widened into llm_quality_filter_score /
    # widened into llm_length_percentiles respectively.
    # llm_host_quality_wide / llm_sample_surface_wide left the queue
    # round 16: the r15-staged combined rows are the REGISTERED
    # llm_host_quality_report / llm_sample_surface (ledger items 1-2,
    # zero net; the llm_host_communities / llm_priority_sample_report
    # standalone fns stay as their components).
    "llm_packing_efficiency": (
        llm_packing_efficiency,
        PACKING_ORACLE,
    ),
    "llm_vocab_coverage_report": (
        llm_vocab_coverage_report,
        VOCAB_COVERAGE_ORACLE,
    ),
    "llm_stride_interleave_order": (
        llm_stride_interleave_order,
        STRIDE_ORACLE,
    ),
    "llm_corpus_overlap_report": (
        llm_corpus_overlap_report,
        CORPUS_OVERLAP_ORACLE,
    ),
    "llm_bpe_merges": (llm_bpe_merges, BPE_ORACLE),
}


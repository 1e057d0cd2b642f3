"""Registered driver rows for crawl curation and the consolidation surfaces.

Each row is a Spark plan registered with its DuckDB oracle through
``registry.register``, like every other ``queries_*`` module: URL, line
and semantic dedup, the Gopher/C4 rule batteries and their per-source
funnel, URL hygiene (blocklist + robots.txt), WARC/WET ingestion, the
host link-graph reports, corpus version diff / drift / novelty, events
funnels and retention, Z-order pruning, and the record-op, scalar
geometry and J2 overlay surfaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm import (
    graph,
    hashing,
    kmeans,
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


# The row is the doc-grain URL-hygiene surface: flag_blocked_hosts'
# verdict over the 5-shape blocklist synthesis AND
# flag_robots_disallowed's RFC 9309 verdict over the 101-host/5-path
# robots synthesis (below), one row per document. The oracle composes
# both oracles as derived tables.
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


# --- s12_warc_wet_roundtrip -------------------------------------------------
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

    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id", "coalesce(text, '') AS text"
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
    # parsed SQL text (``sqltext`` says why); the SQL literal '\\d' is
    # the regex \d
    return records.selectExpr(
        r"CAST(regexp_extract(target_uri, '/doc/(\\d+)$', 1) AS BIGINT) AS doc_id",
        "decode(payload, 'UTF-8') AS text",
    )


# --- llm_semdedup_kmeans_e2e -------------------------------------------------
# SemDeDup with ZERO pins: float nearest-centroid argmin is not
# engine-exact, so the cells come from kmeans_fixed's BIGINT
# iterations and the ENTIRE pipeline — codebook training, cell
# assignment, cell-blocked cosine pairs, connected components,
# survivor election — is computed distributed AND replayed exactly by
# the oracle (kmeans CTE chain + the pairs/components/election SQL).
# The row drives the PRODUCTION operator body via
# semantic_dedup(cell_col=...) — llm/semdedup.py's
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


# --- llm_exact_substring_spans ----------------------------------------------
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


# --- llm_host_pagerank ------------------------------------------------------
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

# TrustRank's trusted seed set: hosts 0-9 — trust reaches only what
# the seeds (transitively) link to; everything outside the reachable
# frontier scores exactly 0.
_TRUST_SEEDS_DUCK = "VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9)"

# --- llm_host_quality_report ------------------------------------------------
# The capstone composition a curation team actually reads: ONE
# host-grain report joining link authority (plain PageRank), trust
# (seeded TrustRank) and per-host corpus contribution (doc count,
# exact char mass) — every column integer-exact, the two rank chains
# composed in one oracle via pagerank_fixed_ctes(prefix=).

# Distinct-edge cap for the graph chains' driver-local fast path
# (llm/graph.py): 1<<17 pairs =~ a few MB of driver state,
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


# The registered llm_host_quality_report is the wide form below (+ LPA
# community columns); this base fn is its component.
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


# --- corpus_version_diff ----------------------------------------------------
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

register(
    "corpus_version_diff",
    oracle=CORPUS_DIFF_ORACLE,
    headline=True,
    tags=("cdc", "gate"),
)(corpus_version_diff)


# --- llm_source_rule_funnel -------------------------------------------------
# The SEQUENTIAL survival funnel per source: raw -> gopher keep ->
# (AND) c4 keep -> exact-dedup survivor, with raw and final token
# mass, PLUS the independent per-rule yields (which rule fired) —
# both reports at the same source grain on one scan.
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

register(
    "llm_source_rule_funnel",
    oracle=SOURCE_RULE_FUNNEL_ORACLE,
    headline=True,
    tags=("llm", "curation", "report"),
)(llm_source_rule_funnel)


# --- corpus_drift_psi -------------------------------------------------------
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

register(
    "corpus_drift_psi",
    oracle=DRIFT_ORACLE,
    headline=True,
    tags=("quality", "gate"),
)(corpus_drift_psi)


# --- events_conversion_funnel / events_cohort_retention ----------------------
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

register(
    "events_conversion_funnel",
    oracle=EVENTS_FUNNEL_ORACLE,
    headline=True,
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

register(
    "events_cohort_retention",
    oracle=EVENTS_RETENTION_ORACLE,
    headline=True,
    tags=("analytics", "cohort"),
)(events_cohort_retention)


# --- llm_novelty_scores -----------------------------------------------------
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

    emb = load_table(spark, sf_dir, "embeddings")
    standing = emb.where("pmod(vec_id, 13) != 0")
    added = emb.where("pmod(vec_id, 13) = 0")
    nn = brute_force_topk(standing, added, k=1)
    return nn.selectExpr(
        "query_id AS vec_id",
        "neighbor_id AS nn_id",
        "cos_sim",
        f"cos_sim < {_NOV_THRESH!r}D AS is_novel",
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

register(
    "llm_novelty_scores",
    oracle=NOVELTY_ORACLE,
    headline=True,
    tags=("llm", "embedding", "gate"),
)(llm_novelty_scores)


# --- llm_host_communities ---------------------------------------------------
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


# --- llm_host_quality_report, the registered wide form ----------------------
# The capstone + the LPA community columns on one host-grain row — the
# SIXTH link signal. Composition only: both sides are the components
# above, joined on the host key.

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
    headline=True,
    tags=("llm", "graph", "curation"),
)(llm_host_quality_wide)


# --- llm_robots_filter ------------------------------------------------------
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

# registered post-definition: the oracle composes both sources above
register(
    "llm_blocked_hosts",
    oracle=_url_hygiene_oracle(),
    tags=("llm", "curation", "urls", "robots"),
)(llm_blocked_hosts)



# --- llm_anchor_text_topk ---------------------------------------------------
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


# --- llm_link_graph_rank ----------------------------------------------------
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


# The anchor-text index rides the SAME synthesized-pages link-extraction
# source as the rank row, so the registered llm_link_graph_rank is a
# union-tagged surface: the 'pagerank' leg is llm_link_graph_rank's
# output verbatim (term/n NULL-padded), the 'anchor' leg is
# llm_anchor_text_topk verbatim (its rank = top-k position; the
# pagerank leg's rank = micro-unit PageRank — each leg keeps its own
# contract).
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


# --- layout_zorder_pruning --------------------------------------------------
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
    is a 10-op codegen expression under a range guard; file_assignments MODELS the write
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

register(
    "layout_zorder_pruning",
    oracle=ZORDER_ORACLE,
    headline=True,
    tags=("layout", "spatial"),
)(layout_zorder_pruning)


# --- p_record_ops_surface ---------------------------------------------------
# The one-line record ops (operators/records.py, operators/arrays.py)
# at ONE grain (lineitem rows, the table's own key) with each
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

register(
    "p_record_ops_surface",
    oracle=P_RECORD_OPS_ORACLE,
    headline=True,
    tags=("records", "surface"),
)(p_record_ops_surface)


# --- g_scalar_geometry_surface ----------------------------------------------
# The same pass for the scalar-geometry kernels: g2 (x/y attrs -> point
# round-trip), g5 (3D -> 2D), g6 (Douglas-Peucker endpoints
# invariant), g8 (subdivision preserves area) at SUPPLIER grain with
# every closed-form oracle check as a column. g9 stays its own row —
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

register(
    "g_scalar_geometry_surface",
    oracle=G_SCALAR_GEOMETRY_ORACLE,
    headline=True,
    tags=("geometry", "surface"),
)(g_scalar_geometry_surface)


# --- j2_overlay_surface -----------------------------------------------------
# IntersectionPercentByArea's three physical paths share the
# (c_custkey, intersection_percent) grain over the customer-rect x tile
# fixtures (plans/queries_geo.py). This surface runs all three
# union-tagged by strategy:
#   pairwise  axis-aligned rects x disjoint tiles (the rect fast path)
#   concave   L-shapes both sides (the rectilinear rect-decomposition path)
#   dissolve  heavily overlapping tiles with dissolve=True (clipped
#             zones unioned before measuring)
# Scale shape per leg is unchanged from the standalone rows: envelope
# grid join + per-record combinable sum; the union adds no join.


def j2_overlay_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IntersectionPercentByArea through its three physical paths
    (rect fast path / rectilinear L×L overlay / dissolve union) at one
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
    cust = load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS identifier", "double(c_custkey % 7) AS kx", "double(c_custkey % 5) AS ky"
    )
    # both sides are axis squares, so K.BOX_T built in SQL: the leg
    # plans no prep kernel and no exact kernel, only the rect sweep
    records = cust.select(
        "identifier", K.st_rect_box("kx", "ky", "kx + 4", "ky + 4").alias("prep")
    )
    t = spark.range(0, 40, 1, 1)  # one partition — see _tile_layer
    tiles = t.selectExpr(
        "double(id % 5) AS x0", "double(id % 4) AS y0"
    ).select(K.st_rect_box("x0", "y0", "x0 + 4", "y0 + 4").alias("layer_prep"))
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

register(
    "j2_overlay_surface",
    oracle=J2_OVERLAY_ORACLE,
    headline=True,
    tags=("J2", "overlay", "surface"),
)(j2_overlay_surface)

"""URL canonicalization for URL-keyed corpus dedup.

Web-crawl curation dedupes by URL before it ever hashes content
(the same page fetched twice, with and without ``utm_*`` decoration,
is one document). The reference pipeline has no URL nodes (its
Overpass/SQL sources are keyed upstream), so this is a
training-data-pipeline extension in the ``llm/`` family: a pure
Column-expression canonicalizer (zero Python, whole-stage codegen)
plus a DuckDB SQL mirror (``canonical_url_sql``) so a driver row can
oracle-pair it — the ``pii_redact_sql`` precedent (llm/scrub.py:80).

Canonical form (designed for http(s) web URLs):

- whitespace trimmed, fragment (``#...``) dropped;
- scheme and authority lowercased (path/query case is significant,
  ``example.com/API?q=Foo`` keeps its case);
- a leading ``www.`` label and the scheme's default port (``:80`` for
  http, ``:443`` for https) are stripped from the host;
- duplicate slashes in the path collapse, a trailing slash drops
  (except the root), an empty path becomes ``/`` (RFC 3986 §6.2.3:
  for http an empty path is equivalent to ``/``);
- tracking query parameters (``utm_*``, click ids, ``ref`` — see
  ``TRACKING_PARAM_RE``) are removed, the survivors are sorted
  byte-lexicographically and rejoined; an emptied query drops its
  ``?``.

Out of scope, documented: percent-encoding normalization (``%2f`` vs
``%2F`` stay distinct — needs per-match callbacks neither engine's
``regexp_replace`` has), IDN/punycode, non-hierarchical schemes
(``mailto:`` has no ``://`` so the whole remainder is treated as
authority and lowercased — acceptable for a web-corpus key, wrong for
preserving mailbox case), and authority userinfo
(``http://User@example.com/`` treats ``user@host`` as one authority
token: the userinfo is lowercased with it and a ``www.``/default-port
strip won't fire through it — userinfo URLs are vanishingly rare in
web crawls and the key stays deterministic and idempotent, so they
dedup among themselves, just not against their userinfo-free twins).

Cross-engine contract: every regex sticks to the Java/RE2 shared
subset (llm/scrub.py module docstring); splits use literal
single-character separators that mean the same thing to Spark's
regex ``split`` and DuckDB's literal ``string_split``; and the
expression is IDEMPOTENT (``canonical(canonical(u)) ==
canonical(u)``), pinned by a hypothesis sweep in
tests/test_urls.py.

100 TB notes: per-row projection, zero shuffles, scan-bound; the
dedup that consumes it is one hash-groupBy on the canonical key
(llm/dedup.py::exact_dedup_groups' shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Param names are matched case-sensitively against the lowercase
# conventional spellings (tracking decorators are machine-emitted and
# lowercase in the wild; a cased variant is left alone rather than
# guessed at). 'ref'/'ref_src' are NOT in the default (ADVICE_r12):
# 'ref' is functional on many real sites (GitHub's ?ref=<branch>
# selects different content), so stripping it by default would merge
# genuinely distinct pages into one canonical dedup key and drop real
# documents. Opt in for corpora where it is known to be a tracking
# decorator: tracking_param_re=TRACKING_PARAM_WITH_REF_RE.
TRACKING_PARAM_RE = (
    r"^(?:utm_[A-Za-z0-9_]*|fbclid|gclid|dclid|msclkid|mc_eid|igshid)(?:=|$)"
)
TRACKING_PARAM_WITH_REF_RE = (
    r"^(?:utm_[A-Za-z0-9_]*|fbclid|gclid|dclid|msclkid|mc_eid|igshid"
    r"|ref|ref_src)(?:=|$)"
)

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"


def canonical_url(
    url: Column | str, tracking_param_re: str = TRACKING_PARAM_RE
) -> Column:
    """Canonical dedup key for a URL column (see module docstring for
    the exact form). NULL in -> NULL out; '' in -> '/' (empty path
    normalizes to root, same as any other empty-path URL)."""
    u = F.trim(F.col(url) if isinstance(url, str) else url)
    u = F.get(F.split(u, "#", 2), 0)  # fragment off; never NULL for non-NULL u
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    rest = F.regexp_replace(u, _SCHEME_RE, "")
    auth = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    tail = F.substring(rest, F.length(auth) + 1, F.length(rest))
    # strip 'www.' only when another dotted label remains — 'www.com'
    # is itself a registrable host and must survive
    host = F.regexp_replace(auth, r"^www\.(.+\..+)$", "$1")
    host = F.when(
        scheme == "http", F.regexp_replace(host, ":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(host, ":443$", "")
    ).otherwise(host)
    # path = up to the FIRST '?', query = everything after it (a later
    # '?' is query content; extract+substring rather than split so both
    # engines agree — DuckDB's string_split has no limit argument)
    path = F.regexp_extract(tail, r"^([^?]*)", 1)
    query = F.substring(tail, F.length(path) + 2, F.length(tail))
    path = F.regexp_replace(path, "/{2,}", "/")
    path = F.when(F.length(path) > 1, F.regexp_replace(path, "/$", "")).otherwise(
        path
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&", -1),
            lambda p: (p != "") & ~p.rlike(tracking_param_re),
        )
    )
    qjoined = F.array_join(kept, "&")
    recomposed = F.concat(
        F.when(scheme == "", F.lit("")).otherwise(F.concat(scheme, F.lit("://"))),
        host,
        path,
        F.when(qjoined == "", F.lit("")).otherwise(F.concat(F.lit("?"), qjoined)),
    )
    return F.when(u.isNull(), F.lit(None).cast("string")).otherwise(recomposed)


def canonical_url_sql(
    expr: str, tracking_param_re: str = TRACKING_PARAM_RE
) -> str:
    """DuckDB SQL mirror of ``canonical_url`` for oracle pairing.
    Structured as a chain of scalar subquery-free nested expressions;
    DuckDB's ``string_split`` is literal (matching the single-char
    separators), ``regexp_replace`` needs the explicit ``'g'`` flag
    where Spark replaces globally, and ``list_sort`` defaults to the
    same byte order as Spark's ``array_sort`` on ASCII keys."""
    pat = tracking_param_re.replace("'", "''")
    u = f"trim({expr})"
    u = f"string_split({u}, '#')[1]"
    scheme = f"lower(regexp_extract({u}, '{_SCHEME_RE}', 1))"
    rest = f"regexp_replace({u}, '{_SCHEME_RE}', '')"
    auth = f"lower(regexp_extract({rest}, '^([^/?]*)', 1))"
    tail = f"substring({rest}, length({auth}) + 1)"
    host = f"regexp_replace({auth}, '^www\\.(.+\\..+)$', '\\1')"
    host = (
        f"case when {scheme} = 'http' then regexp_replace({host}, ':80$', '') "
        f"when {scheme} = 'https' then regexp_replace({host}, ':443$', '') "
        f"else {host} end"
    )
    path_raw = f"regexp_extract({tail}, '^([^?]*)', 1)"
    query = f"substring({tail}, length({path_raw}) + 2)"
    path = f"regexp_replace({path_raw}, '/{{2,}}', '/', 'g')"
    path = (
        f"case when length({path}) > 1 then regexp_replace({path}, '/$', '') "
        f"else {path} end"
    )
    path = f"case when {path} = '' then '/' else {path} end"
    kept = (
        f"list_sort(list_filter(string_split({query}, '&'), "
        f"p -> p <> '' and not regexp_matches(p, '{pat}')))"
    )
    # array_to_string has string_agg semantics (empty list -> NULL)
    # where Spark's array_join gives '' — coalesce restores parity
    qjoined = f"coalesce(array_to_string({kept}, '&'), '')"
    return (
        f"case when {expr} is null then null else "
        f"concat(case when {scheme} = '' then '' else concat({scheme}, '://') end, "
        f"{host}, {path}, "
        f"case when {qjoined} = '' then '' else concat('?', {qjoined}) end) end"
    )


def host_of(url: Column | str) -> Column:
    """Lowercased host of a URL (authority minus any ``:port`` and any
    ``user@`` prefix) — the key a domain blocklist matches against.
    NULL in -> NULL out; a scheme-less input treats everything before
    the first ``/``/``?`` as the authority (same convention as
    :func:`canonical_url`)."""
    u = F.trim(F.col(url) if isinstance(url, str) else url)
    rest = F.regexp_replace(u, _SCHEME_RE, "")
    auth = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    auth = F.regexp_replace(auth, r"^[^@]*@", "")
    return F.regexp_replace(auth, r":[0-9]*$", "")


def host_suffixes(host: Column | str) -> Column:
    """The dot-suffix chain of a host, every suffix with >= 2 labels:
    ``a.b.c.com`` -> ``[a.b.c.com, b.c.com, c.com]``. Blocklists name
    registrable domains; a host is blocked when ANY suffix is listed
    (blocking ``example.com`` blocks ``cdn.example.com``). Bare TLDs
    are not emitted — a blocklist that wants to kill a whole TLD is an
    upstream policy decision, not a suffix match. A host with fewer
    than 2 labels yields an empty array."""
    h = F.col(host) if isinstance(host, str) else host
    labels = F.split(h, r"\.", -1)
    n = F.size(labels)
    idxs = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idxs, lambda i: F.array_join(F.slice(labels, i, n - i + 1), ".")
    )


def flag_blocked_hosts(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    domain_col: str = "domain",
    out: str = "host_blocked",
) -> DataFrame:
    """Mark rows whose URL host matches a domain blocklist (exact host
    or any parent domain, via :func:`host_suffixes`). Adds boolean
    ``out``; :func:`filter_blocked_hosts` is the filtering form.

    Plan shape (100 TB): the (id, suffix) projection explodes each row
    into ~2-4 suffix rows, semi-joins the broadcast blocklist (curated
    blocklists are millions of short strings at most), reduces to the
    DISTINCT blocked id set (small — the blocked fraction), and
    left-joins that marker back on the id. The wide document row never
    flows through the explode.
    """
    bl = F.broadcast(
        blocklist.select(F.lower(F.col(domain_col)).alias("_bl_sfx")).distinct()
    )
    hits = (
        df.select(
            F.col(id_col),
            F.explode(host_suffixes(host_of(url_col))).alias("_bl_sfx"),
        )
        .join(bl, "_bl_sfx", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("_blocked", F.lit(True))
    )
    return df.join(hits, id_col, "left").withColumn(
        out, F.coalesce(F.col("_blocked"), F.lit(False))
    ).drop("_blocked")


def filter_blocked_hosts(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    domain_col: str = "domain",
) -> DataFrame:
    """Rows whose host matches no blocklist domain (suffix semantics,
    see :func:`flag_blocked_hosts`) — the crawl-pipeline filtering
    form, as a left-anti join on the blocked id set."""
    flagged = flag_blocked_hosts(
        df,
        blocklist,
        url_col=url_col,
        id_col=id_col,
        domain_col=domain_col,
        out="_hb",
    )
    return flagged.filter(~F.col("_hb")).drop("_hb")


def url_dedup_groups(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    out_key: str = "url_key",
) -> DataFrame:
    """URL-keyed exact dedup summary: one row per canonical URL with
    the survivor (min id — deterministic, append-stable for monotonic
    ids) and the duplicate count. One hash-groupBy on the canonical
    key — the exact_dedup_groups shape (llm/dedup.py:86), scan-bound
    before the single shuffle."""
    return (
        df.select(
            canonical_url(url_col).alias(out_key), F.col(id_col)
        )
        .groupBy(out_key)
        .agg(
            F.min(id_col).alias("keep_" + id_col),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
        )
    )


def host_link_edges(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    src_col: str = "src",
    dst_col: str = "dst",
    skip_nofollow: bool = False,
) -> DataFrame:
    """(src, dst) host-graph edges extracted from each page's ``<a
    href>`` links (:func:`llm.html.extract_links`) — the step that
    derives the link graph the :mod:`llm.graph` operators (PageRank /
    TrustRank / HITS) consume FROM the crawl itself. One edge per link
    OCCURRENCE (pagerank counts multi-edges per occurrence; ``
    .distinct()`` downstream if simple-graph semantics are wanted).

    Per link: absolute (``scheme://``) and protocol-relative (``//``)
    links resolve to their own host via :func:`host_of`;
    non-hierarchical schemes (``mailto:``, ``javascript:``, ``tel:``
    ...) are dropped; fragment-only and empty hrefs are dropped (self
    references, not edges); everything else is a relative link — an
    edge back to the page's own host. Pages whose own URL has no host
    are dropped (no source node). ``skip_nofollow=True`` honors
    ``rel=nofollow`` the way production link-graph builders do
    (via :func:`llm.html.extract_link_tags` — note that form only
    sees CLOSED ``<a>`` elements, the documented tag-aware line).

    Plan: explode of a per-row extracted array — one scan, one
    Generate, zero joins, zero Python; the edge classification is a
    CASE over two regexes. The graph operators downstream do the
    shuffling."""
    from terra_bonobo_nodes_spark.llm.html import (
        extract_link_tags,
        extract_links,
    )

    src = host_of(F.col(url_col))
    if skip_nofollow:
        tags = extract_link_tags(F.col(html_col))
        links = F.transform(
            F.filter(tags, lambda s: ~s.getField("nofollow")),
            lambda s: s.getField("href"),
        )
    else:
        links = extract_links(F.col(html_col))
    ex = df.select(
        src.alias(src_col),
        F.explode(links).alias("_href"),
    ).where(F.col(src_col) != "")
    h = F.trim(F.col("_href"))
    is_abs = h.rlike(_SCHEME_RE) | h.startswith("//")
    is_dropped = (
        (h == "")
        | h.startswith("#")
        | (h.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:") & ~h.rlike(_SCHEME_RE))
    )
    # host_of needs a scheme to find the authority — give
    # protocol-relative links ('//host/p') a placeholder one
    habs = F.regexp_replace(h, "^//", "x://")
    dst = F.when(is_abs, host_of(habs)).otherwise(F.col(src_col))
    return (
        ex.where(~is_dropped)
        .select(src_col, dst.alias(dst_col))
        .where(F.col(dst_col) != "")
    )

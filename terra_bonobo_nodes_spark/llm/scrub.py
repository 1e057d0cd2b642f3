"""Corpus hygiene: PII redaction and boilerplate paragraph removal.

Training-data curation operators beyond the reference's scope (the
reference pipeline, terra.py, has no text-hygiene nodes) — C4/Gopher
style cleanup re-expressed as Spark column expressions so the hot path
is whole-stage codegen at scan speed.

Cross-engine regex contract: every pattern sticks to the subset where
Java regex (Spark) and RE2 (DuckDB oracle) agree — character classes,
bounded/greedy quantifiers without ambiguous alternation, ``\\b`` word
boundaries, non-capturing groups. No lookaround, no backreferences.

Scale shapes (100 TB):
- PII ops are per-row projections — zero shuffles, scan-bound.
- Boilerplate removal shuffles once on the paragraph hash to count
  document frequency, reduces the hot set (df > max_df) to a SMALL
  relation (boilerplate is by definition few distinct paragraphs), and
  broadcasts it back as a hotness-marker join — a document-frequency
  cap like ``max_fp_df`` of ``winnow_pairs`` (llm/text.py). The per-doc
  regroup is the second and last shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm.text import nonempty_trimmed_lines, tokens

# name -> portable pattern. Order matters for redaction: emails first
# (their local part may contain digit runs), then IPs (dotted digit
# runs that the phone pattern would otherwise swallow), then phones
# (require a leading '+' so bare numeric ids are left to ID_RE), then
# long digit runs (account/card-like ids).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+[0-9][0-9()\s.-]{6,}[0-9]",
    "digit_id": r"\b[0-9]{9,16}\b",
}


def pii_counts(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    prefix: str = "n_",
) -> DataFrame:
    """Per-row match counts for each PII pattern (on the ORIGINAL
    text — counts are independent, overlaps allowed). Pure projection."""
    pats = patterns or PII_PATTERNS
    c = F.col(text_col)
    for name, pat in pats.items():
        # NULL text -> 0 matches (not NULL counts): a missing document
        # has no PII, and downstream sums shouldn't need null guards.
        df = df.withColumn(
            prefix + name,
            F.coalesce(F.regexp_count(c, F.lit(pat)), F.lit(0)).cast("long"),
        )
    return df


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "redacted",
    patterns: dict[str, str] | None = None,
    token_fmt: str = "<{name}>",
) -> DataFrame:
    """Replace every PII match with a typed placeholder, applying the
    patterns in dict order (document the order when overriding — later
    patterns see earlier replacements)."""
    pats = patterns or PII_PATTERNS
    c: Column = F.col(text_col)
    for name, pat in pats.items():
        c = F.regexp_replace(c, pat, token_fmt.format(name=name.upper()))
    return df.withColumn(out_col, c)


def pii_redact_sql(expr: str, patterns: dict[str, str] | None = None) -> str:
    """DuckDB SQL equivalent of ``pii_redact`` for oracle pairing
    (DuckDB's regexp_replace needs the 'g' flag; Spark's is global)."""
    pats = patterns or PII_PATTERNS
    for name, pat in pats.items():
        # ADVICE_r05: a pattern (or name) containing a single quote must
        # not break out of the SQL string literal — escape '' per ANSI
        sq_pat = pat.replace("'", "''")
        sq_tok = f"<{name.upper()}>".replace("'", "''")
        expr = f"regexp_replace({expr}, '{sq_pat}', '{sq_tok}', 'g')"
    return expr


def paragraph_chunks(text: Column | str, para_tokens: int) -> Column:
    """Split text into consecutive ``para_tokens``-token paragraphs
    (space-joined). The last paragraph may be shorter. Synthetic
    paragraphing for corpora without layout; for documents with real
    newlines pass ``F.split(text, '\\n')`` downstream instead."""
    toks = tokens(text)
    n_chunks = F.ceil(F.size(toks) / F.lit(para_tokens)).cast("int")
    idxs = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idxs,
        lambda i: F.array_join(F.slice(toks, i * para_tokens + 1, para_tokens), " "),
    )


def remove_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_tokens: int = 8,
    max_df: int = 5,
    out_col: str = "clean_text",
    with_metrics: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Drop paragraphs that appear in more than ``max_df`` distinct
    documents (subscription prompts, license headers, nav chrome) and
    reassemble each document from its surviving paragraphs in order.

    Returns ``id_col, out_col, n_para, n_kept``. Documents whose every
    paragraph was boilerplate survive with ``out_col = ''``. The hot-set
    cut is OBSERVABLE, not silent: ``with_metrics=True`` returns
    ``(clean, metrics)`` with a 1-row metrics DataFrame
    ``(n_hot_paragraphs, n_dropped_doc_paras)`` — distinct boilerplate
    paragraphs removed and the document-paragraph occurrences they
    accounted for. Companion DataFrame rather than ``df.observe``
    because AQE empty-relation propagation can drop a CollectMetrics
    node with an empty join side (see linkage.fuzzy_match_pairs); the
    companion aggregate reads the localCheckpointed paragraph relation,
    so it costs one cheap extra job.

    Plan: explode (id, idx, para) → groupBy(md5(para)) count-distinct-id
    → the >max_df hot set broadcasts back as a LEFT-join hotness marker
    (never a shuffle of the corpus against itself) → ONE regroup by id
    computing totals, kept counts and the reassembled text together.
    Two shuffles total; the hot set is small by the boilerplate
    definition itself.
    """
    # Lazy localCheckpoint: two consumers (hotness agg, marker join)
    # read this relation — without the barrier the tokenize+chunk+md5
    # pipeline re-executes per consumer (measured 2x on the sf0.1
    # bench). Checkpoint ownership follows the returned plan, so it is
    # released by the ContextCleaner, not leaked into the CacheManager.
    # posexplode_OUTER keeps empty/whitespace-only documents as one
    # null-paragraph row, so they survive to the output with
    # n_para = 0 and out_col = '' instead of silently vanishing; the
    # null-aware count("_para") never counts that placeholder.
    paras = (
        df.select(F.col(id_col), paragraph_chunks(text_col, para_tokens).alias("_paras"))
        .select(id_col, F.posexplode_outer("_paras").alias("_idx", "_para"))
        .withColumn("_h", F.md5("_para"))
        .localCheckpoint(eager=False)
    )
    # _df (distinct docs) decides hotness; _tot (all occurrences) feeds
    # the dropped-paragraph metric — a hot paragraph repeated within one
    # document drops ALL its occurrences, and the metric must balance
    # against sum(n_para) - sum(n_kept)
    agged = (
        paras.where(F.col("_h").isNotNull())
        .groupBy("_h")
        .agg(
            F.count_distinct(F.col(id_col)).alias("_df"),
            F.count(F.lit(1)).alias("_tot"),
        )
    )
    hot = agged.where(F.col("_df") > max_df)
    # Broadcast LEFT join as a hotness MARKER (not an anti-join): every
    # paragraph row survives to ONE groupBy(id) that computes totals,
    # kept counts, and the reassembled text together. The pre-r09 shape
    # (anti-join -> groupBy + a second totals groupBy + a final join)
    # exchanged the paragraph relation by id twice and joined two
    # aggregates; this fuses it to a single paragraph-level exchange —
    # same two logical shuffles (hash groupBy + id groupBy), half the
    # shuffled bytes. All-boilerplate documents keep their (marked)
    # rows, so they emerge with out_col = '' without a totals join.
    marked = paras.join(
        F.broadcast(hot.select("_h", F.lit(True).alias("_hot"))), "_h", "left"
    )
    keep = F.col("_hot").isNull()
    result = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("_idx", "_para", "_hot"))
                    ),
                    lambda s: s["_hot"].isNull(),
                ),
                lambda s: s["_para"],
            ),
            " ",
        ).alias(out_col),
        F.count("_para").cast("long").alias("n_para"),
        F.count(F.when(keep, F.col("_para"))).cast("long").alias("n_kept"),
    ).select(id_col, out_col, "n_para", "n_kept")
    if not with_metrics:
        return result
    metrics = agged.agg(
        F.coalesce(F.sum(F.when(F.col("_df") > max_df, 1)), F.lit(0))
        .cast("long")
        .alias("n_hot_paragraphs"),
        F.coalesce(F.sum(F.when(F.col("_df") > max_df, F.col("_tot"))), F.lit(0))
        .cast("long")
        .alias("n_dropped_doc_paras"),
    )
    return result, metrics


# The C4 line-level drop phrases (Raffel et al. 2020 §2.2, public):
# "javascript" catches script-soup lines; the policy substrings catch
# cookie/TOS chrome. Matched against the lowercased line.
C4_LINE_BLOCK_PHRASES = (
    "javascript",
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
    "use of cookies",
    "use cookies",
)

# Wikipedia-style citation markers C4 strips before filtering: [12],
# [edit], [citation needed].
C4_CITATION_RE = r"\[[0-9]*\]|\[edit\]|\[citation needed\]"

# A C4 line must end in terminal punctuation (., !, ?, or a closing
# double quote).
C4_END_RE = r"[.!?\"]$"


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    prefix: str = "c4_",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    line_block_phrases: tuple[str, ...] = C4_LINE_BLOCK_PHRASES,
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020 §2.2, public) as a
    line-grain filter plus page-level flags — the rule-based complement
    to :func:`remove_boilerplate`'s frequency-based paragraph cut (C4
    drops a line because of what it LOOKS like; boilerplate removal
    drops a paragraph because of how OFTEN it repeats — a crawl
    pipeline wants both).

    Per line (split on newline, citation markers stripped, trimmed), a
    line is KEPT iff it ends in terminal punctuation (``. ! ? "``), has
    at least ``min_words_per_line`` whitespace-separated words, and
    contains none of ``line_block_phrases`` (lowercased match). Emits:

    - ``{prefix}text`` — the surviving lines rejoined with newlines
      (C4's cleaned page; ``''`` when nothing survives);
    - ``{prefix}n_lines`` / ``{prefix}n_lines_kept`` — per-rule yield;
    - ``{prefix}flag_lorem_ipsum`` — page contains ``lorem ipsum``
      (lowercased), C4 drops the whole page;
    - ``{prefix}flag_curly_brace`` — page contains ``{`` (code soup);
    - ``{prefix}flag_min_lines`` — fewer than ``min_kept_lines`` lines
      survived (C4's 3-sentence floor, counted on kept lines);
    - ``{prefix}keep`` — no page flag fired.

    NULL text behaves as empty (no lines survive, page drops via
    ``flag_min_lines``) so downstream filters need no null guards.

    Pure Column expressions in the cross-engine regex subset (module
    docstring) — scan-speed projection, zero shuffles, zero Python.
    The badwords page filter is deliberately out of scope: it needs a
    language-specific blocklist corpus this repo doesn't ship; pass
    those as extra ``line_block_phrases`` or compose a blocklist join
    upstream.
    """
    c = F.coalesce(
        F.col(text_col) if isinstance(text_col, str) else text_col, F.lit("")
    )
    lines = F.transform(
        F.split(c, "\n", -1),
        lambda l: F.trim(F.regexp_replace(l, C4_CITATION_RE, "")),
    )
    lines = F.filter(lines, lambda l: F.length(l) > 0)

    def _keeps(l: Column) -> Column:
        ok = l.rlike(C4_END_RE) & (
            F.regexp_count(l, F.lit(r"\S+")) >= min_words_per_line
        )
        low = F.lower(l)
        for phrase in line_block_phrases:
            ok = ok & ~low.contains(phrase)
        return ok

    kept = F.filter(lines, _keeps)
    n_kept = F.size(kept)
    flags = {
        f"{prefix}flag_lorem_ipsum": F.lower(c).contains("lorem ipsum"),
        f"{prefix}flag_curly_brace": c.contains("{"),
        f"{prefix}flag_min_lines": n_kept < min_kept_lines,
    }
    keep = None
    for flag in flags.values():
        keep = flag if keep is None else (keep | flag)
    return df.withColumns(
        {
            f"{prefix}text": F.array_join(kept, "\n"),
            f"{prefix}n_lines": F.size(lines).cast("long"),
            f"{prefix}n_lines_kept": n_kept.cast("long"),
            **flags,
            f"{prefix}keep": ~keep,
        }
    )


def _mojibake_table() -> list[tuple[str, str]]:
    """(mojibake, fixed) pairs for the classic web-crawl corruption:
    UTF-8 bytes misdecoded as cp1252/latin-1 ('é' -> 'Ã©',
    '’' -> 'â€™'). Generated from the character list at
    plan-build time — no table to transcribe — and ordered longest
    mojibake first so 3-byte sequences repair before their 2-byte
    prefixes."""
    chars = (
        "éèêëàáâäãçíìîïóòôöõúùûüñýÿßÉÈÊÀÁÂÄÇÍÎÏÓÔÖÚÛÜÑ"
        "‘’“”–—…€«»°æøå"
    )
    out = []
    for ch in chars:
        raw = ch.encode("utf-8")
        try:
            bad = raw.decode("cp1252")
        except UnicodeDecodeError:
            # cp1252 leaves 5 bytes undefined; real-world decoders fall
            # back to latin-1 control chars there (ftfy's sloppy-cp1252)
            bad = "".join(
                bytes([b]).decode("cp1252", errors="ignore") or bytes([b]).decode("latin-1")
                for b in raw
            )
        if bad != ch:
            out.append((bad, ch))
    return sorted(out, key=lambda p: -len(p[0]))


def fix_mojibake(text: Column | str) -> Column:
    """Repair UTF-8-as-cp1252 double-encoding for the common Western
    European + punctuation set, as a chain of LITERAL replaces (no
    regex engine, JVM-side, zero shuffle). Not a general ftfy — a
    deterministic repair of the single most common crawl corruption;
    characters outside the table pass through untouched."""
    c: Column = F.col(text) if isinstance(text, str) else text
    for bad, good in _mojibake_table():
        c = F.replace(c, F.lit(bad), F.lit(good))
    return c


def mojibake_ratio(text: Column | str) -> Column:
    """Length-SHRINK fraction under repair: (len(text) - len(fixed)) /
    len(text) — 0.0 for clean text, up to ~0.5 (2-byte sequences) or
    ~0.67 (3-byte) for fully corrupted text. It is a routing signal,
    not a per-character participation rate: anything > 0 contains
    repairable mojibake, so thresholds belong near 0 (e.g. route to
    :func:`fix_mojibake` when ratio > 0.01), never near 1."""
    c: Column = F.col(text) if isinstance(text, str) else text
    fixed_len = F.length(fix_mojibake(c))
    return F.when(F.length(c) > 0, (F.length(c) - fixed_len) / F.length(c)).otherwise(
        F.lit(0.0)
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix: str = "ld_",
) -> DataFrame:
    """Corpus-level line deduplication (CCNet, Wenzek et al. 2020 §3.1,
    public): every distinct non-empty trimmed line survives exactly
    once across the WHOLE corpus, at its first occurrence in
    (``id_col``, line-position) order; later copies — including repeats
    inside one document — are dropped. This removes the cross-document
    boilerplate per-document filters cannot see (nav bars, cookie
    banners, footers) and is the order-aware complement to
    :func:`remove_boilerplate`'s frequency threshold: that one drops
    ALL copies of a too-frequent paragraph, this one keeps the first.

    Emits ``{prefix}text`` (survivors rejoined with newlines, ``''``
    when none survive), ``{prefix}n_lines`` (non-empty lines before),
    ``{prefix}n_lines_kept``. NULL text behaves as empty. ``id_col``
    values must be non-null (winner election compares them).

    Plan (100 TB shape): explode to line grain once, elect each line's
    winner with a combinable ``min(struct(id, pos))`` groupBy — the
    map-side partial collapses a line's duplicates inside each input
    partition, so the shuffle carries at most one row per (line, input
    partition), not one per occurrence — then one equi-join back and
    one id-grain regroup to reassemble survivors in original order.
    No global window, no per-key single-task sort anywhere.

    Skew (verified, round-13 sweep at 500K docs / 4M lines with 5
    corpus-wide mega-duplicated lines, PLANS.md): the plan is
    skew-proof WITHOUT relying on AQE's skew-join. Catalyst folds the
    winner predicate ``struct(id, pos) == _w`` into the join as a
    second equi-key, so the join shuffle hashes on
    ``(line, (id, pos))`` — near-unique keys, no hot partition exists
    to split — and the election groupBy's hot line keys are collapsed
    by the map-side partials before its shuffle. The only skewable
    exchange left is the final id-grain regroup, keyed by document id
    (uniform by construction).
    """
    lines_arr = nonempty_trimmed_lines(F.coalesce(F.col(text_col), F.lit("")))
    ex = df.select(F.col(id_col), F.posexplode(lines_arr).alias("_pos", "_line"))
    winners = ex.groupBy("_line").agg(
        F.min(F.struct(id_col, "_pos")).alias("_w")
    )
    kept = ex.join(winners, "_line").where(
        F.struct(id_col, "_pos") == F.col("_w")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("_txt"),
        F.count(F.lit(1)).alias("_k"),
    )
    enriched = df.withColumn("_n_lines", F.size(lines_arr).cast("long"))
    return enriched.join(reassembled, id_col, "left").select(
        *[enriched[c] for c in df.columns],
        F.coalesce(F.col("_txt"), F.lit("")).alias(f"{prefix}text"),
        F.col("_n_lines").alias(f"{prefix}n_lines"),
        F.coalesce(F.col("_k"), F.lit(0)).cast("long").alias(f"{prefix}n_lines_kept"),
    )


def nfkc_scrub(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_nfkc",
    strip_controls: bool = True,
) -> DataFrame:
    """Append ``out_col``: NFKC-normalized text with (optionally) the
    C0/C1 control characters stripped — tab/newline/CR kept, they are
    document structure. The standard pre-tokenization cleanup (NFKC
    folds fullwidth forms, ligatures, compatibility digits and spacing
    marks to their canonical compatibles, so 'ﬁle' and 'ｆｉｌｅ'
    tokenize like 'file').

    Unicode normalization needs the full UCD tables — not available as
    a JVM Column builtin in either engine — so this is ONE Arrow-
    batched pandas-UDF column over stdlib ``unicodedata`` (the
    :func:`llm.compress.compression_signal` shape): rows-only class,
    pinned against the same stdlib the executors run. NULL passes
    through as NULL (this is a rewriter, not a filter — the
    NULL-as-empty convention belongs to the filters that consume it).
    """
    import unicodedata

    keep = {"\t", "\n", "\r"}

    def one(t):
        if t is None:
            return None
        n = unicodedata.normalize("NFKC", t)
        if not strip_controls:
            return n
        return "".join(
            ch for ch in n if ch in keep or unicodedata.category(ch) != "Cc"
        )

    @F.pandas_udf("string")
    def _nfkc(s: pd.Series) -> pd.Series:
        return s.map(one)

    return df.withColumn(out_col, _nfkc(F.col(text_col)))

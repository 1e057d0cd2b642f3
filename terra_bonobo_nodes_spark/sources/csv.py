"""CSV ingestion (``CsvDictReader``, ``common.py:29-67``).

Path-based CSV is Spark's own scan (``spark.read.csv`` with header,
dialect and encoding options), distributed and pushdown-friendly; it
needs no wrapper. ``csv_documents_to_rows`` covers the reference's
actual contract: a whole CSV document arrives as one string payload,
e.g. out of a zip entry. Documents explode into lines JVM-side and
parse with ``from_csv``; the column layout comes from an explicit
``header=`` argument, or failing that from the first line of the first
document (driver-side metadata peek, like Spark's own
header-inference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def csv_documents_to_rows(
    df: DataFrame,
    content_col: str = "content",
    delimiter: str = ",",
    keep_cols: list[str] | None = None,
    header: list[str] | None = None,
) -> DataFrame:
    """Explode CSV document strings into typed rows (all-string columns).

    Empty documents yield no rows (reference: empty CSV -> nothing,
    ``test_common.py:34-40``) — and with ``header`` given, an ALL-empty
    corpus still returns a well-formed zero-row result carrying the
    declared columns, so downstream column references keep resolving
    (the r08 sweep defect: the old zero-column fallback broke
    ``identifier_from_property`` on ``event_id``).

    ``header``: explicit column names. Pass it whenever the layout is
    known — it also removes the plan-build-time driver action below.
    NOTE: documents are still expected to CARRY a header line (line 0
    of every document is skipped either way, the reference's
    DictReader contract) — ``header=`` replaces the driver-side
    probe, not the line. Headerless payloads need a synthesized
    header line prepended upstream.
    Without it, the header is read from the first line of the first
    non-empty document (a bounded driver-side metadata peek, like
    Spark's own CSV header inference); if the corpus is entirely empty
    there is nothing to name the columns from, so the function fails
    fast with a typed ``ValueError`` instead of returning a schema-less
    DataFrame.
    """
    if header is None:
        first = df.select(content_col).filter(F.length(content_col) > 0).first()
        if first is None:
            raise ValueError(
                "csv_documents_to_rows: every document is empty and no "
                "header= was given — pass header=[...] to get a typed "
                "empty result"
            )
        header = first[0].splitlines()[0].split(delimiter)
    schema = ", ".join(f"`{h.strip()}` STRING" for h in header)
    lines = df.select(
        *(keep_cols or []),
        F.posexplode(F.split(F.col(content_col), r"\r?\n")).alias("_ln", "_line"),
    ).filter((F.col("_ln") > 0) & (F.length(F.trim("_line")) > 0))
    parsed = lines.withColumn(
        "_rec", F.from_csv(F.col("_line"), schema, {"sep": delimiter})
    )
    return parsed.select(*(keep_cols or []), "_rec.*")

"""Record-shaping operators: identifiers, projection, filtering, mapping.

Capability parity with the reference's row-level nodes (SURVEY.md §2.3).
The reference mutates per-row Python dicts; here every node is a Column
expression over an immutable DataFrame, so Catalyst gets projection
pruning and predicate pushdown for free. The reference's
``CopyOnPipelineSplit`` (``common.py:414-423``) needs no operator:
branches reuse the same DataFrame (``df.cache()`` it first when they
should not recompute a costly common prefix).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

IDENTIFIER = "identifier"


def identifier_from_property(
    df: DataFrame, prop: str, identifier_col: str = IDENTIFIER
) -> DataFrame:
    """``IdentifierFromProperty`` (``common.py:109-123``): key extraction.

    The source property is kept (CHANGES.md 0.3.1 "Do not drop original
    data"); the identifier is a cast-to-string copy.
    """
    return df.withColumn(identifier_col, F.col(prop).cast("string"))


def generate_identifier(
    df: DataFrame,
    generator: Column | None = None,
    identifier_col: str = IDENTIFIER,
) -> DataFrame:
    """``GenerateIdentifier`` (``common.py:126-151``): synthesized key.

    Default mirrors the reference's ``uuid.uuid4()``; pass any Column
    expression (e.g. ``F.md5(F.to_json(F.struct(...)))``) for a
    deterministic key — required for replayable pipelines at scale,
    where uuid4 breaks idempotent re-runs.
    """
    gen = generator if generator is not None else F.expr("uuid()")
    return df.withColumn(identifier_col, gen.cast("string"))


def drop_identifier(df: DataFrame, identifier_col: str = IDENTIFIER) -> DataFrame:
    """``DropIdentifier`` (``common.py:426-436``)."""
    return df.drop(identifier_col)


def exclude_attributes(df: DataFrame, excluded: Sequence[str]) -> DataFrame:
    """``ExcludeAttributes`` (``common.py:157-175``): drop listed columns.

    Missing columns are ignored, matching the reference's ``dict.pop``
    with default (``common.py:171-173``).
    """
    return df.drop(*[c for c in excluded if c in df.columns])


def filter_attributes(
    df: DataFrame, included: Sequence[str], keep_identifier: bool = True
) -> DataFrame:
    """``FilterAttributes`` (``common.py:178-193``): projection whitelist.

    Column pruning reaches the parquet scan (ReadSchema) via Catalyst.
    """
    cols = list(included)
    if keep_identifier and IDENTIFIER in df.columns and IDENTIFIER not in cols:
        cols = [IDENTIFIER, *cols]
    return df.select(*cols)


def filter_by_properties(df: DataFrame, predicate: Column) -> DataFrame:
    """``FilterByProperties`` (``common.py:196-211``): row filter.

    The reference takes an arbitrary Python ``f(identifier, record)``;
    here the predicate is a Column expression so it pushes down to the
    scan. (A Python callable would force a row-at-a-time UDF — the slow
    path; callers who truly need one can build it themselves.)
    """
    return df.filter(predicate)


def map_properties(
    df: DataFrame,
    exprs: dict[str, Column] | Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """``MapProperties`` (``common.py:269-283``): whole-record transform.

    Accepts either a ``{output_col: Column}`` mapping (preferred —
    stays in whole-stage codegen) or a DataFrame->DataFrame callable
    for structural rewrites.
    """
    if callable(exprs):
        return df.transform(exprs)
    return df.withColumns(dict(exprs))


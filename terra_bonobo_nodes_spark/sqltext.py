"""Spark SQL text shared by the operators that build their plans from
parsed SQL (``F.expr`` / ``selectExpr``): one parsed expression costs a
few py4j round trips, a Column operator about a dozen."""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"

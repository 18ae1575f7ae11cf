"""Spark SQL text for operators built from expression strings.

A chain of ``F.*`` Column calls costs a few py4j round trips per call
(the JVM function lookup, the call, every literal); one ``selectExpr`` /
``F.expr`` string costs the same few however large the expression is.
The hot operators therefore build from SQL text, and every name or string
spliced into it goes through one of these two helpers.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier: ``User-Agent`` and
    dotted names resolve as one column."""
    return "`" + name.replace("`", "``") + "`"


def literal(value: str) -> str:
    """``value`` as a single-quoted string literal, backslashes and
    quotes escaped (Spark's default string-literal parsing)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"

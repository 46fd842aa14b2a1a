"""Formatting values into Spark SQL text."""

from __future__ import annotations


def sql_literal(s: str) -> str:
    """Quoted Spark SQL string literal that parses back to ``s``: the parser
    unescapes backslashes, and ``${`` would be taken for a variable
    reference, so ``\\``, ``'`` and ``{`` after ``$`` are escaped."""
    body = s.replace("\\", "\\\\").replace("'", "\\'").replace("${", "$\\{")
    return f"'{body}'"

"""Formatting values into Spark SQL text."""

from __future__ import annotations

import math


def sql_literal(s: str) -> str:
    """Quoted Spark SQL string literal that parses back to ``s``: the parser
    unescapes backslashes, and ``${`` would be taken for a variable
    reference, so ``\\``, ``'`` and ``{`` after ``$`` are escaped."""
    body = s.replace("\\", "\\\\").replace("'", "\\'").replace("${", "$\\{")
    return f"'{body}'"


def sql_double(x: float) -> str:
    """DoubleType SQL literal (``repr`` + ``D``) that parses back to ``x``
    exactly, like ``F.lit(float(x))``. NaN and ±Inf have no literal form:
    rendered they read as the column names ``nanD``/``infD`` and fail deep
    in analysis, so they are rejected here with the value in the message."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"non-finite value {x!r} has no SQL literal")
    return f"{x!r}D"

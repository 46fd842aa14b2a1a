"""Vector math over ``array<float|double>`` embedding columns.

Built-in higher-order functions (``zip_with`` + ``aggregate``) keep the
arithmetic JVM-side — no Python round trip — and evaluate as a sequential
fold over the array, which makes results deterministic and reproducible
across engines (the DuckDB oracle computes the same left-to-right sum).

Each expression is defined once, as a ``*_sql`` function returning Spark
SQL text that call sites batch into ``selectExpr``/``F.expr`` (one py4j round
trip per projection, where a Column tree pays one per node). The Column
forms are ``F.expr`` over the same function. Arguments are column names or
SQL fragments (``str``); backtick-quote names that need it.

At 100 TB scale these expressions vectorize per-row with zero shuffle; the
shuffling strategy lives in ``operators/similarity.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_sql(a: str, b: str) -> str:
    """Sequential-fold dot product of two equal-length arrays, both cast to
    array<double> (``0.0D`` keeps the fold's seed DoubleType)."""
    return (
        f"aggregate(zip_with(CAST({a} AS array<double>), "
        f"CAST({b} AS array<double>), (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def l2_norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine_from_norms_sql(a: str, b: str, na: str, nb: str) -> str:
    """Cosine with the side norms ``na``/``nb`` given as precomputed
    columns: the same ``try_divide(dot, na * nb)`` expression as
    :func:`cosine_similarity_sql`, so results are bit-identical, but each
    norm folds once per SIDE ROW (projected before the join) instead of
    once per PAIR. In an N×Q scoring join that cuts the per-pair array
    folds from three to one — the dominant cost of every
    brute-force/candidate-verify cosine path.

    ``try_divide``, not ``/``: under ANSI mode (Spark 4 default) a plain
    divide THROWS on a zero-norm vector, so one all-zero embedding in a
    100 TB corpus would kill the whole job. Undefined cosine → NULL, which
    descending top-k windows sort last and threshold filters drop."""
    return f"try_divide({dot_sql(a, b)}, {na} * {nb})"


def cosine_similarity_sql(a: str, b: str) -> str:
    """dot(a,b) / (|a| * |b|) — matches DuckDB's list_cosine_similarity.
    In a fan-out join (one row scored against many partners) prefer
    :func:`cosine_from_norms_sql`: this form re-folds BOTH norms per pair."""
    return cosine_from_norms_sql(a, b, l2_norm_sql(a), l2_norm_sql(b))


def truncate_dims_sql(a: str, k: int) -> str:
    """First ``k`` dimensions of an embedding (matryoshka-style truncation:
    MRL-trained models pack coarse-to-fine information so the head is a
    usable low-cost embedding)."""
    return f"slice(CAST({a} AS array<double>), 1, {int(k)})"


def l2_normalize_sql(a: str) -> str:
    """Unit-normalize an embedding: x / ||x||. One fold for the norm, one
    transform for the divide — all JVM-side, zero shuffle; zero-norm
    vectors yield NULL elements via ``try_divide`` (a plain divide would
    THROW under ANSI mode, Spark 4's default, killing the job on one
    all-zero embedding). The lambda variable is ``__e`` because ``a``
    is read inside the lambda body, where a column named like the
    variable would resolve to it."""
    return (
        f"transform(CAST({a} AS array<double>),"
        f" __e -> try_divide(__e, {l2_norm_sql(a)}))"
    )


def finite_vector_sql(a: str) -> str:
    """TRUE iff the embedding ``a`` is usable: not NULL, and no component
    is NULL, NaN or ±Infinity (one such component poisons every dot product
    it touches). Codegen'd IsNotNull plus a short-circuiting EXISTS. The
    lambda checks ``isnull`` explicitly: a NULL component would otherwise
    make the EXISTS three-valued NULL, dropped by a filter only by
    accident and diverging from any oracle that counts non-finite
    components (NOT isfinite(NULL) is NULL, never TRUE).
    ``CAST('Infinity' AS DOUBLE)`` constant-folds to the Infinity
    literal."""
    return (
        f"(({a} IS NOT NULL) AND (NOT exists({a}, x -> (isnull(x) OR isnan(x))"
        " OR abs(x) = CAST('Infinity' AS DOUBLE))))"
    )


# -- Column forms: one parsed expression each -------------------------------


def dot(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(l2_norm_sql(a))


def cosine_from_norms(a: str, b: str, na: str, nb: str) -> Column:
    return F.expr(cosine_from_norms_sql(a, b, na, nb))


def cosine_similarity(a: str, b: str) -> Column:
    return F.expr(cosine_similarity_sql(a, b))


def truncate_dims(a: str, k: int) -> Column:
    return F.expr(truncate_dims_sql(a, k))


def l2_normalize(a: str) -> Column:
    return F.expr(l2_normalize_sql(a))

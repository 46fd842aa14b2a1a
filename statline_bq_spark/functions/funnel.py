"""Gopher-style quality-filter cascade with a per-rule funnel report.

Shared core for the batch query (``workload.q_gopher_quality_funnel``) and
the streaming monitor (``streaming.monitors.funnel_monitor``): the funnel
is split by algebra like the other monitors — every rule outcome is a
per-ROW flag, so the stage counters (docs entering / dropped / surviving
each rule) are plain conditional sums, and per-micro-batch counter rows
merge by addition to exactly the one-pass result.

Determinism: every rule compares integers or exact integer-division
doubles (the alpha-share rule is a cross-multiplied integer compare), so
Spark and DuckDB agree bit-for-bit — the funnel is fully oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from statline_bq_spark.functions.text import (
    safe_size_sql,
    stopword_count_sql,
    tokens_sql,
)

#: Rule names in cascade order (rule i only sees rule i-1's survivors).
RULES = (
    "too_short",
    "mean_word_len_lo",
    "mean_word_len_hi",
    "low_alpha_share",
    "few_stopwords",
)


def funnel_counters(df: DataFrame, text_col: str = "text") -> DataFrame:
    """ONE-ROW DataFrame of additive stage counters: s0 (docs in), then
    per rule i: d{i} (dropped by rule i) and s{i} (survivors after it).
    Counter rows from any slicing of the input sum to the whole-corpus
    counters — the associativity the streaming monitor rides on."""
    # The tokenization is projected ONCE in its own select (round 11):
    # inlining `toks` into every feature made the single Project evaluate
    # split(trim(text)) six times per row. With `_toks` as a real column
    # (CollapseProject keeps it: non-cheap expr, multiple refs) and every
    # size NULL-safe in an unconditional position (safe_size_sql's
    # nullif), each regex/filter pass runs exactly once per row: measured
    # 0.64s → 0.34s on the sf0.1 feature projection, identical counters.
    #
    # SQL-text construction (round 12 batching): one py4j
    # round trip per projection/aggregate instead of one per Column node;
    # D-suffixed literals match F.lit(float).
    feat = df.selectExpr(
        f"`{text_col}` AS _text",
        f"{tokens_sql(f'`{text_col}`')} AS _toks",
    ).selectExpr(
        # NULL-safe sizes, not bare size(): legacy (ANSI-off) sessions
        # return -1 for a NULL array, which would count NULL-text docs as
        # length--1 survivors instead of rule-0 drops (round-9 ANSI-off
        # sweep).
        f"{safe_size_sql('_toks')} AS n_tok",
        "length(regexp_replace(_text, '\\\\s', '')) AS n_chr",
        safe_size_sql("filter(_toks, t -> t RLIKE '^[A-Za-z]+[.,!?;:]?$')")
        + " AS n_alpha",
        # ASCII-folded membership, not lower() (see text.ascii_fold_sql)
        f"{stopword_count_sql('_toks')} AS n_stop",
    )
    flags = [
        "n_tok < 15",
        "(n_chr / n_tok) < 3.0D",
        "(n_chr / n_tok) > 10.0D",
        "n_alpha * 10 < n_tok * 8",
        "n_stop < 2",
    ]
    aggs = [F.expr("count(1) AS s0")]
    alive = "true"
    for i, f in enumerate(flags, start=1):
        aggs.append(
            F.expr(f"sum(CAST(({alive} AND ({f})) AS bigint)) AS d{i}")
        )
        alive = f"{alive} AND (NOT ({f}))"
        aggs.append(F.expr(f"sum(CAST({alive} AS bigint)) AS s{i}"))
    return feat.agg(*aggs)


def report_from_counters(counters: DataFrame) -> DataFrame:
    """Merge counter rows (sum — associative) and unpivot into the 5-row
    (stage, rule, n_in, n_dropped, n_out) funnel report."""
    cols = ["s0"] + [c for i in range(1, 6) for c in (f"d{i}", f"s{i}")]
    merged = counters.agg(
        *[
            F.expr(f"CAST(coalesce(sum({c}), 0) AS bigint) AS {c}")
            for c in cols
        ]
    )
    stack_args = ", ".join(
        f"{i}, '{RULES[i - 1]}', s{i - 1}, d{i}, s{i}" for i in range(1, 6)
    )
    return merged.selectExpr(
        f"stack(5, {stack_args}) AS (stage, rule, n_in, n_dropped, n_out)"
    )


def funnel_report(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass funnel report over a batch DataFrame."""
    return report_from_counters(funnel_counters(df, text_col))

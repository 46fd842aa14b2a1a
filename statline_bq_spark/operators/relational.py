"""Relational core operators: filters, aggregations, top-k, set ops,
incremental anti-joins (SURVEY.md §2.A S17/S19, §2.B Q5/Q6/Q10).

Everything here compiles to built-in Catalyst plans — partial+final hash
aggregation, broadcast/sort-merge joins, pushed-down parquet filters. The
functions exist to name the semantics and fix scale-correct defaults, not to
reimplement what Catalyst already does.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def filtered_slice(df: DataFrame, *predicates: Column) -> DataFrame:
    """Conjunctive predicate slice (reference Q5 — the `$filter` /
    DefaultSelection semantics). Expressed declaratively so Catalyst pushes
    the conjunction into the parquet scan (verify via PushedFilters in
    .explain)."""
    out = df
    for p in predicates:
        out = out.filter(p)
    return out


def top_k(
    df: DataFrame, order: Sequence[Column], k: int
) -> DataFrame:
    """Global top-k (reference "sorts/limits/top-k" gap, SURVEY.md §2.C).

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — each partition
    keeps only k rows, then the driver merges k·p rows — no global sort at
    any scale. Pass a deterministic total order (include a unique key as the
    last sort column) so results are stable.
    """
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame,
    partition_keys: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Per-group top-k via row_number window — one shuffle on the partition
    keys; with AQE skewed groups split automatically."""
    w = Window.partitionBy(*partition_keys).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def incremental_anti_join(
    source: DataFrame, loaded: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Rows of ``source`` not yet present in ``loaded``, matched on ``keys``.

    Spark rendition of the reference's incremental-load skip (reference
    ``main.py:38-95``: compare the CBS `Modified` stamp against the
    already-loaded `Modified`; process only changed datasets). A left-anti
    join generalizes the per-dataset dict compare to set-at-a-time, and
    broadcast-ing the (small) catalog side keeps it shuffle-free.
    """
    cond = None
    for k in keys:
        c = source[k].eqNullSafe(loaded[k])
        cond = c if cond is None else (cond & c)
    return source.join(loaded, cond, "left_anti")


def merge_upsert(
    snapshot: DataFrame, changes: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """SQL MERGE (SCD type 1) as a plain DataFrame plan: rows of ``changes``
    replace matching-key rows of ``snapshot``; unmatched change rows insert.

    The batch rendition of the reference's idempotent re-load (S20
    ``gcpl.py:549-573``: drop + recreate), refined from whole-dataset to
    per-key granularity: ``changes ∪ (snapshot ⟕anti changes)``. Both
    branches shuffle on the same keys, and at 100 TB the anti join is the
    only wide stage touching the big snapshot — the union is
    partition-local. Column sets must match (unionByName).

    NULL keys follow standard SQL MERGE semantics: NULL never equals NULL,
    so a NULL-key change row INSERTS alongside (never replaces) a NULL-key
    snapshot row. Dedupe or sentinel NULL keys upstream if they are
    supposed to be identities.
    """
    keep = snapshot.join(
        changes.select(*keys), list(keys), "left_anti"
    )
    return changes.unionByName(keep)


def latest_by_group(
    df: DataFrame,
    partition_keys: Sequence[str],
    order: Sequence[Column],
    rank_col: str = "_rn",
) -> DataFrame:
    """Latest-snapshot selection (reference S17 ``gcpl.py:53-97``: list date
    folders, take max). Window row_number over a descending order — pass
    descending columns plus a tiebreaker."""
    w = Window.partitionBy(*partition_keys).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) == 1)
        .drop(rank_col)
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    *,
    right_values: Sequence[str],
    strict: bool = True,
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join: attach to each left row the nearest right row with the
    same keys — the most recent earlier one (``direction="backward"``,
    ``right_ts`` < ``left_ts``, or ``<=`` when not strict) or the first
    later one (``direction="forward"``, ``right_ts`` > ``left_ts``).

    Spark has no ASOF JOIN operator; the naive non-equi join is a per-key
    cartesian. This implements the scalable union-merge formulation: tag
    both sides, union, sort each key group once by (ts, side), and carry the
    right side's values forward with ``last(..., ignorenulls=True)`` over a
    running frame — one shuffle on ``on``, one within-key sort, zero
    row-pair blowup, identical to what a merge-join-based ASOF (DuckDB,
    pandas.merge_asof) computes. ``direction="forward"`` is the same scan
    with the timestamp order reversed.

    ``tolerance`` (an SQL INTERVAL string, e.g. ``"2 hours"``; timestamp
    ts columns only) bounds how far the match may be from the left row —
    matches outside the window null out, exactly pandas ``merge_asof``'s
    ``tolerance``. Applied AFTER the nearest match is found (a nearer-but-
    excluded row is not replaced by a farther in-tolerance one), matching
    pandas semantics.

    Ordering subtlety: right rows sort so that timestamp TIES attach when
    ``strict`` is False and don't when True, in both directions.

    Output: all left columns plus ``right_values`` (null when no match).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    tie = 0 if not strict else 2
    # (SQL-text construction, round 12 driver-floor batching: identical
    # trees — bare int literals match F.lit(int), DESC is NULLS LAST like
    # Column.desc(), last(x, true) is F.last(ignorenulls=True), CASE
    # matches when-without-otherwise.)
    l_tag = left.selectExpr(
        *[f"`{c}`" for c in left.columns],
        "1 AS _side",
        f"`{left_ts}` AS _ts",
    )
    r_tag = right.selectExpr(
        *[f"`{c}`" for c in on],
        *[f"`{c}`" for c in right_values],
        f"{tie} AS _side",
        f"`{right_ts}` AS _ts",
    )
    merged = l_tag.unionByName(r_tag, allowMissingColumns=True)
    ts_order = "_ts" if direction == "backward" else "_ts DESC"
    over = (
        f"OVER (PARTITION BY {', '.join(f'`{k}`' for k in on)}"
        f" ORDER BY {ts_order}, _side"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    carry_cols = list(right_values)
    if tolerance is not None:
        carry_cols.append("_rts")
        merged = merged.selectExpr(
            "*", "CASE WHEN _side != 1 THEN _ts END AS _rts"
        )
    carried = merged.selectExpr(
        *[f"`{c}`" for c in merged.columns if c not in carry_cols],
        *[
            f"last(CASE WHEN _side != 1 THEN `{v}` END, true)"
            f" {over} AS `{v}`"
            for v in carry_cols
        ],
    )
    out = carried.filter(F.col("_side") == 1)
    if tolerance is not None:
        bound = F.expr(f"INTERVAL {tolerance}")
        in_tol = (
            F.col("_rts") >= F.col("_ts") - bound
            if direction == "backward"
            else F.col("_rts") <= F.col("_ts") + bound
        )
        out = out.select(
            *[c for c in out.columns if c not in carry_cols],
            *[
                F.when(in_tol, F.col(v)).alias(v) for v in right_values
            ],
        )
    return out.drop("_side", "_ts", "_rts")


def band_join(
    facts: DataFrame,
    bands: DataFrame,
    value: str,
    lo: str,
    hi: str,
    *,
    closed_lo: bool = True,
) -> DataFrame:
    """Range/band join: attach the band whose [lo, hi) interval contains
    ``facts[value]`` (reference "filters/joins" gap — non-equi predicates).

    ``bands`` is a bounded dimension (a code list, like the reference's
    dimension tables) → explicit broadcast makes this a BroadcastNestedLoop
    over a handful of rows per fact, i.e. a map-side operation with no
    shuffle at any fact-table scale. Never band-join two SF-scaled tables
    this way — bucketize the value into a band key and equi-join instead.
    """
    lo_pred = (
        facts[value] >= bands[lo] if closed_lo else facts[value] > bands[lo]
    )
    hi_pred = facts[value] < bands[hi]
    return facts.join(F.broadcast(bands), lo_pred & hi_pred, "left")


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    value: str,
    lo: str,
    hi: str,
    *,
    bucket_width: int,
) -> DataFrame:
    """Point-in-interval join where BOTH sides are SF-scaled — the case
    ``band_join`` must never handle (its broadcast nested-loop assumes a
    bounded interval side).

    The scalable formulation is interval bucketization: each interval
    ``[lo, hi)`` is exploded to the fixed-width buckets it covers
    (``sequence(floor(lo/w), floor((hi-1)/w))``), each point maps to exactly
    one bucket (``floor(value/w)``), and the join becomes an EQUI-join on
    the 8-byte bucket id with the range predicate kept as a residual
    filter. Catalyst plans a plain shuffled/sort-merge join — one shuffle
    per side, no BroadcastNestedLoopJoin, no per-key cartesian — and AQE
    can still split skewed buckets. Cost scales with
    Σ interval_len/bucket_width (the explode), so pick ``bucket_width``
    near the median interval length.

    ``value``, ``lo``, ``hi`` are integral columns (e.g. epoch seconds).
    Intervals are half-open ``[lo, hi)``. Output: inner join of points ×
    containing intervals, all columns from both sides.
    """
    w = F.lit(bucket_width).cast("long")
    p = points.withColumn("_pb", F.floor(F.col(value) / w))
    # hi is exclusive → last covered bucket is floor((hi-1)/w); guard the
    # degenerate hi<=lo interval (sequence() would DESCEND, not error).
    iv = intervals.filter(F.col(lo) < F.col(hi)).withColumn(
        "_ib",
        F.explode(
            F.sequence(
                F.floor(F.col(lo) / w), F.floor((F.col(hi) - 1) / w)
            )
        ),
    )
    joined = p.join(
        iv,
        (p["_pb"] == iv["_ib"])
        & (p[value] >= iv[lo])
        & (p[value] < iv[hi]),
        "inner",
    )
    return joined.drop("_pb", "_ib")

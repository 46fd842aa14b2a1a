"""Analytic window-function operators.

The reference's only window-like computation is the poor-man's
``row_number`` in `_get_latest_folder` (reference `gcpl.py:53-97`); SURVEY.md
§2.C lists window functions as an engine-required category the reference
lacks. These operators provide the standard analytic surface — running
totals, lag deltas, moving averages, ranking/ntile — as thin factories over
``Window`` specs.

Scale design (100 TB): every operator shuffles once on its partition keys
and sorts within partitions; per-key state is bounded (running frames are
``rowsBetween`` with finite or growing-but-streaming frames, which Spark
evaluates in a single pass over the sorted partition, spilling via the
external sorter when a key's rows exceed memory). Never use an
unpartitioned window (a single global partition) — every factory here
requires partition keys for exactly that reason, except ``ntile_buckets``
which documents the constraint.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def running_total(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    value: Column | str,
    *,
    alias: str = "running_total",
) -> DataFrame:
    """Cumulative sum of ``value`` per partition in ``order_by`` order.

    Uses an explicit ``rowsBetween(unboundedPreceding, currentRow)`` frame:
    the default frame for an ordered window is RANGE-based, which both
    differs from most oracles on ties and forces a per-peer-group scan.
    ROWS frames stream in one pass.
    """
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(alias, F.sum(value).over(w))


def lag_delta(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    value: Column | str,
    *,
    offset: int = 1,
    alias: str = "delta",
) -> DataFrame:
    """``value - lag(value, offset)`` per partition (None for the first rows)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    c = F.col(value) if isinstance(value, str) else value
    return df.withColumn(alias, c - F.lag(c, offset).over(w))


def running_frame_avg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    value: Column | str,
    *,
    preceding: int = 3,
    alias: str = "avg",
) -> DataFrame:
    """Trailing average as exact-sum / row-count over the frame.

    Use with a DECIMAL ``value`` when the result must be bit-reproducible
    across engines: double ``avg`` accumulates in frame-implementation
    order (incremental here, segment-tree elsewhere), so the last ulp — and
    therefore ``round(x, 2)`` at .xx5 boundaries — is engine-dependent.
    Decimal sums are exact, and double division by an integer count is a
    single deterministic operation.
    """
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-preceding, Window.currentRow)
    )
    return df.withColumn(
        alias,
        F.sum(value).over(w).cast("double") / F.count(F.lit(1)).over(w),
    )


def ranked(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    *,
    dense: bool = False,
    alias: str = "rank",
) -> DataFrame:
    """rank()/dense_rank() per partition — deterministic under ties (equal
    inputs get equal ranks), unlike row_number over a non-unique order."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    fn = F.dense_rank() if dense else F.rank()
    return df.withColumn(alias, fn.over(w))


def ntile_buckets(
    df: DataFrame,
    order_by: Sequence[Column | str],
    *,
    n: int = 4,
    partition_by: Sequence[str] = (),
    alias: str = "bucket",
) -> DataFrame:
    """ntile(n) bucket assignment.

    With empty ``partition_by`` this is a GLOBAL window — one task sees all
    rows. Only use unpartitioned ntile on pre-aggregated/bounded inputs
    (e.g. per-customer summaries), never on a raw fact table; partition it
    or compute approximate quantile cut-points instead at full scale.

    ``order_by`` must be a total order (include a unique tiebreaker) or the
    bucket assignment of tied rows is nondeterministic.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(alias, F.ntile(n).over(w))


def global_rank(
    df: DataFrame,
    order_by: Sequence[Column],
    *,
    num_partitions: int | None = None,
    out_col: str = "global_rank",
    materialize: bool = True,
) -> DataFrame:
    """Distributed GLOBAL ranking without a single-partition window — the
    DataFrame rendition of zipWithIndex.

    An unpartitioned ``row_number``/``ntile`` window compiles to
    ``Exchange SinglePartition`` of every row: one task sorts the world,
    the shape that can never ship at 100 TB. This instead:

    1. range-repartitions by the sort key (sampled boundaries, parallel
       sort — the same machinery as ``orderBy``),
    2. ranks locally within each range partition,
    3. adds per-partition offsets (exclusive running row counts over the
       BOUNDED partition-count table).

    The result is exactly the global row_number for any TOTAL order
    (include a unique tiebreak column!): range partitions are ordered and
    disjoint, so offset + local rank reconstructs the global rank no
    matter where the sampled boundaries fell. The tagged partitioning is
    materialized ONCE (``localCheckpoint`` — the same multi-consumer
    pattern as the dedup pipelines): the offsets branch and the rank
    branch must see the SAME partition ids, and without materialization
    each branch would re-run its own range exchange. (``materialize=False``
    skips the checkpoint so tests can inspect the physical shape — the
    range exchanges are then re-derived per branch, identical by
    deterministic boundary sampling, but the default stays safe.)
    """
    order_by = list(order_by)
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parts = df.repartitionByRange(n_parts, *order_by)
    tagged = parts.withColumn("_gr_pid", F.spark_partition_id())
    if materialize:
        tagged = tagged.localCheckpoint(eager=False)
    wl = Window.partitionBy("_gr_pid").orderBy(*order_by)
    local = tagged.withColumn("_gr_lrn", F.row_number().over(wl))
    counts = tagged.groupBy("_gr_pid").agg(F.count(F.lit(1)).alias("_gr_n"))
    wo = (
        Window.orderBy("_gr_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_gr_pid",
        F.coalesce(F.sum("_gr_n").over(wo), F.lit(0)).alias("_gr_off"),
    )
    return (
        local.join(F.broadcast(offsets), "_gr_pid")
        .withColumn(out_col, (F.col("_gr_lrn") + F.col("_gr_off")).cast("bigint"))
        .drop("_gr_pid", "_gr_lrn")
    )


def exact_ntile_from_rank(rank: Column, n: Column, buckets: int) -> Column:
    """ntile()'s exact bucket assignment from a precomputed global rank:
    the first ``n mod b`` buckets get ``n div b + 1`` rows, the rest get
    ``n div b`` — pure integer arithmetic, so it composes with
    :func:`global_rank` to give distributed ntile semantics identical to
    the single-window form."""
    # True integer division (SQL DIV) throughout — double division +
    # bigint truncation is only exact while operands stay below 2^53,
    # which would undercut the bit-identical-at-any-scale claim.
    idiv = lambda a, d: F.call_function("div", a, d)  # noqa: E731
    b = F.lit(buckets).cast("bigint")
    big = idiv(n.cast("bigint"), b)
    r = n.cast("bigint") - big * b
    big_span = r * (big + 1)
    return (
        F.when(big == 0, rank)  # n < buckets: bucket = rank
        .when(rank <= big_span, idiv(rank - 1, big + 1) + 1)
        .otherwise(r + idiv(rank - big_span - 1, big) + 1)
    ).cast("int")

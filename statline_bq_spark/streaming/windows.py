"""Streaming windowed aggregation over event streams.

The reference is pure batch; its nearest streaming analogue is the
re-runnable incremental skip (S19) + dated snapshots (S15/S17) —
SURVEY.md §2.C. This module supplies the genuine streaming rendition:
``readStream`` → watermark → tumbling/sliding/session window → sink.

Semantics match ``operators/timeseries.py`` exactly (same window
functions), so the batch oracle checks validate the streaming
aggregation logic; streaming adds watermark-driven late-data handling
and incremental state.

Scale notes: state store size is bounded by (watermark horizon ×
#keys); append-mode emission happens only once the watermark passes a
window's end, which is what allows exactly-once parquet sinks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of parquet drops — the streaming
    version of the reference's per-run snapshot ingestion."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def tumbling_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    size: str = "1 hour",
    watermark: str = "2 hours",
    keys: Sequence[str] = ("event_type",),
    aggs: Sequence[Column] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation (append-mode capable)."""
    aggs = list(aggs) if aggs else [F.count(F.lit(1)).alias("n_events")]
    out = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), size).alias("window"), *keys)
        .agg(*aggs)
    )
    agg_cols = out.columns[1 + len(keys):]
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *keys,
        *agg_cols,
    )


def sliding_stats(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    size: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Watermarked sliding-window aggregation."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), size, slide).alias("window"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n_events",
            "total_value",
        )
    )


def session_stats(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    keys: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Watermarked session-window aggregation (dynamic-gap sessions are the
    same call with a Column gap)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("window"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("session_start"),
            F.col("window.end").alias("session_end"),
            *keys,
            "n_events",
            "total_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    keys: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Stateful streaming dedup within the watermark horizon — the streaming
    rendition of the reference's "don't reprocess what you've seen" (S19)."""
    return events.withWatermark(ts_col, watermark).dropDuplicates(
        [*keys, ts_col]
    )


def dedup_stream_within_watermark(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    keys: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Dedup by business key alone, tolerating timestamp jitter between
    duplicates (at-least-once sources re-emit the same event with a slightly
    different ingest time — exact-ts dedup misses those).

    ``dropDuplicatesWithinWatermark`` keeps the first arrival per key and
    guarantees eviction once the watermark passes the FIRST sighting —
    bounded state, unlike keying the plain ``dropDuplicates`` on a jittery
    timestamp column.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    *,
    key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: decode a streaming fact against a
    batch dimension (the streaming rendition of the reference's code-table
    decode, SURVEY Q1-Q3). No watermark needed — the static side is
    re-planned per micro-batch, so a dimension refresh lands on the next
    trigger. Keep the dim broadcast-small or pre-bucketed by the key; a
    shuffling stream-static join pays the shuffle EVERY micro-batch."""
    return stream.join(dim, on=key, how=how)


def stream_stream_interval_join(
    left, right, *, key: str, left_ts: str, right_ts: str,
    lookback: str = "1 hour", watermark: str = "2 hours",
):
    """Stream-stream inner join: right rows join left rows of the same key
    whose timestamp falls in (right_ts - lookback, right_ts].

    Both sides are watermarked so the state store can evict: the left side
    keeps at most ``watermark + lookback`` of history per key, the right
    side ``watermark``. Without BOTH a watermark and a time-range condition
    a stream-stream join's state grows forever — Spark refuses unbounded
    state in append mode for good reason; this wrapper makes the bound part
    of the operator's signature.
    """
    from pyspark.sql import functions as F

    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (lw[left_ts] <= rw[right_ts])
        & (lw[left_ts] > rw[right_ts] - F.expr(f"INTERVAL {lookback}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[key])


def neardup_filter_stream(
    docs: DataFrame,
    *,
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming near-duplicate filter: keep the first document per SimHash
    fingerprint inside the watermark horizon — the streaming rendition of
    the batch dedup stack for a continuously-ingested corpus (an LLM
    pipeline consuming a crawl feed dedups online, not in a nightly batch).

    The fingerprint is the same 64-bit JVM-expression SimHash the batch
    path uses (`operators/dedup.simhash64`), so near-identical documents
    (same token multiset up to small perturbations that don't flip sign
    counters) collapse to one key; state is one 8-byte key per distinct
    fingerprint within the watermark, evicted by
    ``dropDuplicatesWithinWatermark`` once the horizon passes — bounded
    regardless of stream length. Exact-duplicate semantics per fingerprint
    bucket; widen to banded Hamming by keying on fingerprint bit-blocks
    (`operators/dedup.simhash_neardup_pairs`'s pigeonhole scheme) at the
    cost of blocks× state.
    """
    from statline_bq_spark.operators.dedup import simhash64

    return (
        docs.withColumn("_fp", simhash64(f"`{text_col}`"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )


def chained_hourly_daily(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    watermark: str = "0 seconds",
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """CHAINED stateful aggregations in ONE streaming query (Spark 3.4+
    multiple-stateful-operator support): hourly tumbling counts roll up
    into daily totals without an intermediate sink — the second groupBy
    keys on ``window_time()`` of the first aggregate's window, which
    carries the event-time column the engine needs to watermark the
    downstream operator.

    Pre-3.4 this required two queries with a materialized hourly table
    between them (the shape `monitors.hourly_anomaly_monitor` still uses
    deliberately, for restart-isolation of the stages); in-query chaining
    halves the end-to-end latency and removes the intermediate storage.
    State scale: hourly state is (keys × open hours), daily state
    (keys × open days) — both watermark-bounded.
    """
    keys = list(keys)
    hourly = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 hour").alias("hw"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("hw"), "1 day").alias("dw"), *keys
        )
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        )
    )
    return daily.select(
        F.col("dw.start").alias("day_start"),
        *keys,
        "n_events",
        "n_hours",
    )

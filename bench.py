#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Timing = full query wall time including the action (count on the result).
Each query is warmed once before the timed pass, so the numbers measure
steady-state execution (shuffles, joins, aggregation) rather than one-off
JVM/whole-stage-codegen compilation — the component that amortizes to zero
on a long-lived cluster. Cold-run total is reported alongside in
"cold_total_sec" for transparency.

Measurement protocol (round 9 — this host's throughput swings up to ~60%
between back-to-back runs, confirmed by a pure-CPU probe that slowed 27%
on identical code): every query is timed min-of-3 ("queries", the primary
wall estimate) with the median alongside ("queries_median", the
spread evidence); a fixed pure-Python CPU probe is timed before and after
the sweep ("cpu_probe_sec") so a slow-host capture is self-identifying.
Both probes run with NO Spark JVM resident (the end probe fires after
spark.stop(), round 10) so they measure comparable host states. A capture
whose end probe drifts >15% above the start, whose hypervisor steal time
exceeds 2% of all host cycles over the capture window ("steal_pct",
round 11 — steal is invisible to probe drift, and measured 5-12% steal
made two same-code captures land 16.7 s vs 29.2 s), or in which other
processes used more than 5% of all host cycles ("foreign_cpu_share": host
busy ticks minus this process tree's — this interpreter, the JVM and its
Python workers — over all host ticks) is tagged "polluted": true — the
artifact still prints, but re-run on a quiet host for the headline number.
Load average is not used: the bench's own JVM keeps it near 1.0, which a
4-core host cannot tell from foreign load.
Wall time remains load-sensitive — the load-INDEPENDENT signals
("shuffle_write_mb", "spilled_bytes_total") are the metrics to compare
across rounds.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from statline_bq_spark.session import get_spark  # noqa: E402
from statline_bq_spark.workload import QUERIES  # noqa: E402


class StageMetrics:
    """Cumulative executor metrics from the UI REST API (monotone counters
    over completed stages); per-query cost = delta around the action. The
    poll happens after the action returns, so timings are unaffected."""

    def __init__(self, spark):
        self._url = (
            f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
            f"{spark.sparkContext.applicationId}/stages?status=complete"
        )

    def totals(self) -> dict[str, int]:
        try:
            stages = json.load(urllib.request.urlopen(self._url, timeout=10))
        except Exception:
            return {}
        out = {"shuffle_write": 0, "input": 0, "spill": 0}
        for s in stages:
            out["shuffle_write"] += s.get("shuffleWriteBytes", 0)
            out["input"] += s.get("inputBytes", 0)
            out["spill"] += s.get("memoryBytesSpilled", 0) + s.get(
                "diskBytesSpilled", 0
            )
        return out

#: Headline subset: the flagship star query plus one representative per
#: operator family (agg, window, pivot, sessionization, dedup, similarity,
#: text). Full coverage runs in tests; bench tracks throughput.
#:
#: NOTE comparing totals across rounds: round 3 ADDED four more headliners
#: (gopher_quality_funnel, epoch_shuffle_order, hard_negative_mining,
#: latest_event_agg_only); round 2 ADDED headliners
#: (semantic_decontaminated, fuzzy_supplier_names, then passage_dup_docs,
#: packed_sequences, script_stats) and made ivf_topk_raw probe 6 of 10
#: lists instead of 2 (recall 0.36 -> 0.80) — compare per-query times, not
#: the total, across BENCH_r{N}.json files.
BENCH_QUERIES = (
    "star_schema_agg",
    "pricing_summary",
    "filtered_slice",
    "top_orders_per_customer",
    "latest_event_per_user",
    "pivot_event_values",
    "unpivot_lineitem",
    "session_windows",
    "tumbling_hourly_stats",
    "sliding_6h_stats",
    "running_order_totals",
    "asof_click_before_purchase",
    "cube_order_stats",
    "price_percentiles",
    "dedup_exact_docs",
    "minhash_pairs_raw",
    "ngram_jaccard_pairs",
    "simhash_pairs_raw",
    "ann_cosine_topk",
    "ivf_topk_raw",
    "embedding_centroids",
    "semantic_decontaminated",
    "fuzzy_supplier_names",
    "token_stats",
    "quality_scores",
    "multimodal_binary_meta",
    "chunk_documents",
    "training_data_pipeline",
    "busy_interval_stats",
    "embedding_quantization",
    "passage_dup_docs",
    "packed_sequences",
    "script_stats",
    # round-3 additions (NOTE above: compare per-query, not totals):
    "gopher_quality_funnel",
    "epoch_shuffle_order",
    "hard_negative_mining",
    "latest_event_agg_only",
)


#: Share of all host ticks that other processes may use before a capture
#: counts as polluted.
FOREIGN_CPU_LIMIT = 0.05


def _host_ticks() -> tuple[int, int, int] | None:
    """(busy, steal, total) ticks from /proc/stat, or None off-Linux.

    busy excludes idle, iowait and steal."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        # Denominator: user..steal only (first 8 fields). guest/guest_nice
        # are already accounted inside user/nice, so including them would
        # double-count guest ticks and deflate steal_pct on hosts running
        # nested VMs (ADVICE r11).
        total = sum(vals[:8])
        return total - vals[3] - vals[4] - steal, steal, total
    except (OSError, ValueError, IndexError):
        return None


def cpu_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat, or None off-Linux.

    Hypervisor steal is invisible to probe start/end drift (constant steal
    slows both probes equally), yet it is exactly what made two same-code
    captures land 16.7 s vs 29.2 s in the round-11 post-reboot window
    (sampled 5-12% steal under load). Sampling the counter around the
    sweep makes that failure mode self-identifying."""
    ticks = _host_ticks()
    return None if ticks is None else ticks[1:]


def tree_ticks() -> int | None:
    """utime+stime+cutime+cstime of this process and every live
    descendant (the JVM and its Python workers; reaped children are in
    their parent's cutime/cstime), or None off-Linux."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    try:
        pids = [int(name) for name in os.listdir("/proc") if name.isdigit()]
    except OSError:
        return None
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited since the listing
        fields = raw[raw.rfind(")") + 2 :].split()
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        frontier = [pid for pid, ppid in parent.items() if ppid in frontier]
        tree.extend(frontier)
    return sum(ticks.get(pid, 0) for pid in tree)


def cpu_probe() -> float:
    """Fixed pure-Python workload, seconds. Timed before and after the
    sweep: the ratio between two captures of THIS number is host speed,
    not engine speed — the round-8 audit measured it drifting 27% between
    back-to-back runs, which is the scale factor to mentally divide out
    of any cross-round wall-time comparison."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(20_000_000):
        acc = (acc * 1103515245 + i) & 0xFFFFFFFFFFFF
    assert acc >= 0
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    ticks_start = _host_ticks()
    own_start = tree_ticks()
    probe_start = cpu_probe()
    spark = get_spark(
        "statline-bq-spark-bench", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    metrics = StageMetrics(spark)

    # Warm-up pass: JVM, whole-stage-codegen compile, parquet footer caches.
    cold_total = 0.0
    for name in BENCH_QUERIES:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).count()
        cold_total += time.perf_counter() - t0

    # Timed pass: min-of-3 per query (round 9; min-of-2-plus-adaptive-3rd
    # still shipped two load-polluted captures — r7 loadavg 8.65, r8
    # loadavg 6.94 — and two quiet runs of identical code measured 62%
    # apart). The min is the steady-state estimate; the median is kept
    # alongside as the spread evidence.
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    shuffle_mb: dict[str, float] = {}
    before = metrics.totals()
    for name in BENCH_QUERIES:
        fn = QUERIES[name]
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(min(runs), 3)
        medians[name] = round(sorted(runs)[1], 3)
        after = metrics.totals()
        if after and before:
            # report per-run shuffle write (counters are per-execution)
            shuffle_mb[name] = round(
                (after["shuffle_write"] - before["shuffle_write"])
                / (len(runs) * 1e6),
                3,
            )
        before = after

    total = round(sum(timings.values()), 3)
    spill_total = before["spill"] if before else None
    # End probe AFTER spark.stop() so both probes see a JVM-free host
    # (ADVICE r9: an in-JVM end probe measures GC contention the start
    # probe never saw, overstating drift).
    spark.stop()
    probe_end = cpu_probe()
    # Key order is deliberate (round-10 directive): the driver records
    # only the TAIL of this line, truncating the head — r9's artifact
    # lost the first big dict. Sacrificial evidence (medians) goes
    # first; the primary estimate ("queries", min-of-3), the
    # load-independent shuffle dict, and the capture-hygiene scalars go
    # last so they always survive.
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cold_total_sec": round(cold_total, 3),
        "queries_median": medians,
        "queries": timings,
    }
    if before:  # UI was reachable: attach the movement evidence
        out["shuffle_write_mb"] = shuffle_mb
        out["spilled_bytes_total"] = spill_total
    out["cpu_probe_sec"] = {"start": probe_start, "end": probe_end}
    polluted = probe_end > probe_start * 1.15
    ticks_end = _host_ticks()
    own_end = tree_ticks()
    if ticks_start and ticks_end and ticks_end[2] > ticks_start[2]:
        busy, steal, total = (e - s for e, s in zip(ticks_end, ticks_start))
        steal_pct = round(100.0 * steal / total, 2)
        out["steal_pct"] = steal_pct
        # >2% of ALL host cycles stolen over the whole capture window means
        # a noisy hypervisor neighbor; walls are inflated and run-to-run
        # variance explodes (measured: 5-12% steal <=> same-code totals
        # 16.7 s vs 29.2 s). Probe drift misses this.
        polluted = polluted or steal_pct > 2.0
        if own_start is not None and own_end is not None:
            # Busy ticks that neither this interpreter nor the JVM and its
            # Python workers spent: someone else was on the host.
            foreign = max(0.0, (busy - (own_end - own_start)) / total)
            out["foreign_cpu_share"] = round(foreign, 4)
            polluted = polluted or foreign > FOREIGN_CPU_LIMIT
    # Self-identifying capture quality (round-10 directive): a polluted
    # capture still prints (the driver needs an artifact) but is tagged
    # so nobody mistakes it for a quiet-host number — re-run until false.
    out["polluted"] = polluted
    if polluted:
        print(
            "bench: capture flagged polluted (probe drift >15%, "
            "steal >2%, or foreign CPU >5%) — re-run on a quiet host "
            "for the headline number",
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()

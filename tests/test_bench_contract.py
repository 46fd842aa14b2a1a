"""Guards for the bench harness's driver contract: every headline name
must resolve to a registered query, and the REST metrics helper must
degrade to empty (not raise) when the UI is unreachable — the driver
parses bench.py's single JSON line, so an import-time or metrics failure
would cost the round's BENCH artifact."""

from __future__ import annotations

import os
import subprocess
import sys

import bench
from statline_bq_spark.workload import ORACLES, QUERIES


def test_bench_queries_are_registered():
    missing = [n for n in bench.BENCH_QUERIES if n not in QUERIES]
    assert not missing, f"bench names not in QUERIES: {missing}"


def test_bench_covers_operator_families():
    """The headline set must keep one representative per major family."""
    names = set(bench.BENCH_QUERIES)
    assert names & {"star_schema_agg"}, "star join family missing"
    assert names & {"minhash_pairs_raw", "ngram_jaccard_pairs"}, "dedup missing"
    assert names & {"ann_cosine_topk", "ivf_topk_raw"}, "ANN missing"
    assert names & {"session_windows", "tumbling_hourly_stats"}, "windows missing"
    assert names & {"training_data_pipeline"}, "composite missing"


def test_stage_metrics_tolerates_missing_ui():
    class FakeCtx:
        uiWebUrl = None
        applicationId = "app-x"

    class FakeSpark:
        sparkContext = FakeCtx()

    m = bench.StageMetrics(FakeSpark())
    assert m.totals() == {}


def test_cpu_ticks_sane_or_absent():
    """cpu_ticks must never raise (it runs after the timed sweep; an
    exception there would lose the artifact) and, where /proc/stat
    exists, must return monotone non-negative counters with
    steal <= total."""
    t0 = bench.cpu_ticks()
    if t0 is None:  # non-Linux: degrading to None is the contract
        return
    steal0, total0 = t0
    assert 0 <= steal0 <= total0
    t1 = bench.cpu_ticks()
    assert t1 is not None
    steal1, total1 = t1
    assert steal1 >= steal0 and total1 >= total0


def test_tree_ticks_count_this_process_and_its_children():
    """The foreign-CPU share subtracts this process tree's ticks, so CPU
    a child spent (the JVM, its Python workers) must show up in it."""
    t0 = bench.tree_ticks()
    if t0 is None:  # non-Linux
        return
    hz = os.sysconf("SC_CLK_TCK")
    subprocess.run(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass"],
        check=True,
    )
    assert bench.tree_ticks() - t0 >= 0.4 * hz


def test_session_factory_keeps_skew_mitigations_on():
    """Skewed-key contract (round 8). Measured on a build_skewed copy of
    sf0.1 (one user/customer/order key holding ~50% of events/orders/
    lineitems): session_windows 0.88→0.72s, asof_click_before_purchase
    0.48→0.45s, top_orders_per_customer 1.03→0.65s warm vs clean — no
    2× regression, zero spill; per-key windows/aggs degrade gracefully
    because the hot key's state (one user's events, one order's lines)
    stays far below a partition's memory at any SF, and AQE splits
    skewed JOIN partitions at runtime. This guard pins the configs that
    make that hold at 1000-executor scale; the full 230-query parity
    sweep on skewed data is tests/test_skew_parity.py."""
    from statline_bq_spark.session import get_spark

    spark = get_spark("skew-conf-guard")
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_default_driver_mem_clamps_to_host_ram():
    """The local-mode heap default must track the HOST, not the dev box:
    16g on a machine with less physical RAM gets the JVM OS-OOM-killed
    under load instead of letting Spark spill (ADVICE r8). On a
    co-tenanted host it must also respect what the OS can grant NOW —
    MemAvailable, not just MemTotal (ADVICE r9). The bound uses the
    current /proc/meminfo snapshot with slack for MemAvailable drift
    between the function's read and the test's re-read."""
    from statline_bq_spark.session import _default_driver_mem

    val = _default_driver_mem()
    assert val.endswith("g")
    gib = int(val[:-1])
    assert 1 <= gib <= 16
    total_gib = avail_gib = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_gib = int(line.split()[1]) / (1024 * 1024)
            elif line.startswith("MemAvailable:"):
                avail_gib = int(line.split()[1]) / (1024 * 1024)
    assert gib <= max(1, total_gib * 0.6)
    if avail_gib is not None:
        # +2 GiB slack: MemAvailable moves between the two reads
        assert gib <= max(1, avail_gib * 0.8 + 2)


def test_df_cap_single_source_of_truth():
    """The capped-gram universe cap must be ONE value across the engine
    default, the comparable-universe helper, and every oracle mirroring
    it (ADVICE r8: three independently-defaulted copies of 128)."""
    import inspect

    from statline_bq_spark import workload
    from statline_bq_spark.operators import dedup

    cap = dedup.DEFAULT_DF_CAP
    sig = inspect.signature(dedup.ngram_jaccard_pairs)
    assert sig.parameters["df_cap"].default == cap
    sig = inspect.signature(dedup.informative_doc_ids)
    assert sig.parameters["df_cap"].default == cap
    for name in (
        "ngram_jaccard_pairs",
        "minhash_neardup_pairs",
        "minhash_recall_eval",
        "neardup_clusters",
        "leakage_safe_split",
    ):
        assert f"<= {cap}" in workload.ORACLES[name], name


def test_rows_only_queries_stay_out_of_the_oracle_dict():
    """The three *_raw bench twins are rows-only on purpose; everything
    else in the bench set must be oracle-backed."""
    for n in bench.BENCH_QUERIES:
        if n.endswith("_raw"):
            assert n not in ORACLES
        else:
            assert n in ORACLES, f"{n} lost its oracle"


def test_localcheckpoints_stay_lazy_and_timer_wraps_construction():
    """Anti-eager-barrier gate (VERDICT r11 #7). The shared-subtree
    localCheckpoints in the dedup/analytic query paths must stay
    eager=False: an accidental eager=True adds a blocking materialization
    pass per consumer chain that would surface only as a wall regression
    now that the 'no Scan ExistingRDD' plan gate is retired. And bench's
    timer must keep wrapping query CONSTRUCTION (where a lazy
    checkpoint's upstream stages execute under AQE) together with the
    action — otherwise checkpoint work would escape the timed region."""
    import os
    import re

    from statline_bq_spark.operators import analytic, dedup

    for mod in (dedup, analytic):
        src = open(mod.__file__).read()
        calls = re.findall(r"localCheckpoint\(([^)]*)\)", src)
        assert calls, f"no localCheckpoint sites found in {mod.__name__}"
        for args in calls:
            assert args.strip() == "eager=False", (
                f"{mod.__name__}: localCheckpoint({args}) — query-path "
                "checkpoints must be lazy (eager=False)"
            )
    bench_src = open(
        os.path.join(os.path.dirname(bench.__file__), "bench.py")
    ).read()
    timed = re.search(
        r"t0 = time\.perf_counter\(\)\n\s+fn\(spark, sf_dir\)\.count\(\)",
        bench_src,
    )
    assert timed, (
        "bench.py timed region no longer wraps construction+action "
        "(fn(spark, sf_dir).count() inside the perf_counter window)"
    )

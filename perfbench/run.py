#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload star_surface --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The runner starts one local Spark
session (``local[<cpus>]``, one client, closed loop), sets it up, checks
every query result against its oracle, times whole passes of the
workload until ``--seconds`` have elapsed (at least three), checks each timed result, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes (at least three) and reports the per-layer
metrics, including the tracing overhead (traced minus untraced pass time). Everything the
run writes goes under ``.perfbench_work/`` in the checkout; a traced run
leaves its spans there as ``spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("star_surface", "statline_ingest")
DRIVER_MEM = "2g"

#: (name, unit) of every per-layer metric a traced run reports.
PER_LAYER = (
    ("build.s", "s"), ("build.py4j_calls", "count"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.task_gc_s", "s"), ("exec.task_skew", "ratio"),
    ("shuffle.write_bytes", "B"), ("shuffle.read_bytes", "B"), ("spill.bytes", "B"),
    ("scan.input_bytes", "B"), ("scan.input_rows", "count"),
    ("odata.scan_s", "s"), ("odata.rows", "count"), ("odata.partitions", "count"),
    ("pipeline.land_s", "s"), ("pipeline.skip_s", "s"), ("pipeline.self_s", "s"),
    ("pipeline.tables_landed", "count"), ("pipeline.skip_ratio", "ratio"),
    ("layout.write_s", "s"), ("layout.files_written", "count"),
    ("layout.bytes_written", "B"), ("layout.stored_bytes_ratio", "ratio"),
    ("catalog.register_s", "s"), ("catalog.patch_s", "s"),
    ("catalog.ddl_statements", "count"), ("metadata.s", "s"),
    ("stream.trigger_s", "s"), ("stream.add_batch_s", "s"),
    ("stream.latest_offset_s", "s"), ("stream.wal_commit_s", "s"),
    ("stream.start_stop_s", "s"), ("stream.rows", "count"), ("stream.visible_s", "s"),
    ("op.p50_s", "s"), ("op.p90_s", "s"), ("op.self_s", "s"), ("trace.overhead_s", "s"),
    ("proc.peak_rss_mb", "MB"), ("proc.session_s", "s"), ("proc.warm_s", "s"),
    ("run.foreign_cpu_share", "ratio"), ("run.steal_pct", "%"),
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(workload: str, work: str, traced: bool):
    from statline_bq_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")  # wins over spark.local.dir
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the launcher JVM of spark-submit too: no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    spark = get_spark(
        f"perfbench-{workload}",
        master=f"local[{cpus}]",
        extra_conf={
            # its carriage returns would hide the result lines
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads stage metrics from the status REST API
            "spark.ui.enabled": "true" if traced else "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={work} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait for every process we started."""
    import host
    from pyspark import SparkContext

    children = host.descendants(os.getpid())
    jvm = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if jvm is not None:
        jvm.stdin.close()  # the gateway JVM exits on EOF
        try:
            jvm.wait(60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 20
    while children and time.monotonic() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)


def make_workload(name: str, work: str, seed: int):
    import workloads as w

    if name == "statline_ingest":
        return w.StatlineIngest(DATA, work, seed)
    return w.QueryMix(w.STAR_SURFACE, DATA, seed)


def pass_time(passes: list[list]) -> float:
    """Each operation kind's median latency over the passes, summed: the
    time of one pass, robust to a stall that hits one pass of a few."""
    by_kind: dict[str, list[float]] = {}
    for op in (op for p in passes for op in p):
        by_kind.setdefault(op.kind, []).append(op.latency)
    return sum(statistics.median(v) for v in by_kind.values())


def summarise_layers(passes: list[list]) -> dict[str, float]:
    """Per traced pass: sum over its operations (skew: max); then the median."""
    per_pass = []
    for ops in passes:
        acc: dict[str, float] = {}
        for op in ops:
            for k, v in op.layers.items():
                acc[k] = max(acc.get(k, 0.0), v) if k == "exec.task_skew" else acc.get(k, 0.0) + v
        per_pass.append(acc)
    keys = {k for acc in per_pass for k in acc}
    return {k: statistics.median(acc.get(k, 0.0) for acc in per_pass) for k in keys}


def main(argv=None) -> int:
    t_run = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import statline_bq_spark.workload  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine sources not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA):
        print(f"perfbench: missing input tables under {DATA}", file=sys.stderr)
        return 2
    import host
    from tracing import Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    quality = host.RunQuality()
    traced = bool(args.trace)

    wl = make_workload(args.workload, work, args.seed)
    wl.prepare()  # the benchmark's own inputs: not part of set-up

    t0 = time.perf_counter()
    spark = start_session(args.workload, work, traced)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark) if traced else None
    try:
        wl.bind(spark, tracer)
        t1 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t2

        passes: list[list] = []
        t_measure = time.perf_counter()
        # traced runs bracket each traced pass by untraced ones (JIT drift)
        min_passes = max(wl.min_passes, 3) if traced else wl.min_passes
        while len(passes) < min_passes or time.perf_counter() - t_measure < args.seconds:
            passes.append(wl.run_pass(len(passes), traced and len(passes) % 2 == 1))
        ops = [op for p in passes for op in p]
        rss = host.peak_rss_mb([os.getpid(), *host.descendants(os.getpid())])
        run_quality = quality.finish()
        if tracer is not None:
            tracer.close()
            tracer.write(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json"))
    finally:
        t3 = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t3
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not op.ok for op in ops)
    # an operation that raised has no latency (NaN): its pass is left out
    complete = [p for p in passes if all(op.latency == op.latency for op in p)]
    untraced = [p for p in complete if not any(op.traced for op in p)]
    if not untraced:
        print(f"perfbench: no untraced pass completed: {wl.wrong}", file=sys.stderr)
        return 1
    pass_s = pass_time(untraced)
    setup_s = session_s + warm_s

    if traced:
        traced_passes = [p for p in complete if any(op.traced for op in p)]
        layers = summarise_layers(traced_passes)
        layers["op.self_s"] = statistics.median(
            tracer.self_times(f"p{p[0].pass_no}-").get("op", 0.0) for p in traced_passes
        )
        primary = [op for p in untraced for op in p if wl.primary in (None, op.kind)]
        by_kind: dict[str, list[float]] = {}
        for op in primary:
            by_kind.setdefault(op.kind, []).append(op.latency)
        # each operation kind's median over the passes, then the median kind
        layers["op.p50_s"] = statistics.median(statistics.median(v) for v in by_kind.values())
        latencies = [op.latency for op in primary]
        layers["op.p90_s"] = statistics.quantiles(latencies, n=10)[-1] if len(latencies) >= 2 else latencies[0]
        layers["trace.overhead_s"] = pass_time(traced_passes) - pass_s
        layers["proc.peak_rss_mb"] = rss
        layers["proc.session_s"] = session_s
        layers["proc.warm_s"] = warm_s
        layers["run.foreign_cpu_share"] = run_quality["foreign_cpu_share"] or 0.0
        layers["run.steal_pct"] = run_quality["steal_pct"] or 0.0
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
        }

    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        + " ".join(f"{k}={v['value']:.4g}{v['unit']}" for k, v in metrics.items() if not traced or k.startswith(("op.", "trace.", "run.")))
        + f" | passes={len(passes)} pass_times=[{','.join(f'{sum(op.latency for op in p):.3f}' for p in untraced)}] ops={len(ops)} error_rate={failed / len(ops):.3g}"
        + f" session_s={session_s:.3g} warm_s={warm_s:.3g} wall_s={time.perf_counter() - t_run:.3g} check_s={check_s:.3g} stop_s={stop_s:.3g}"
        + f" foreign_cpu_share={run_quality['foreign_cpu_share']} steal_pct={run_quality['steal_pct']}"
        + (f" wrong={wl.wrong}" if wl.wrong else "")
    )
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

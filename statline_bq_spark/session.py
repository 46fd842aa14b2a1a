"""SparkSession factory tuned for the engine's workload.

Design notes (100 TB north star):

- AQE on: runtime coalescing of shuffle partitions, dynamic broadcast-join
  selection, and skew-join splitting replace the reference's static paging
  plan (reference ``statline.py:197-237`` plans partitions from catalog row
  counts; Spark's AQE re-plans from *observed* sizes, which is strictly
  better at scale).
- Shuffle partitions default low for local testing; at cluster scale set
  ``spark.sql.shuffle.partitions`` ~ 2-3× total cores (AQE coalesces down).
- Session timezone pinned to UTC so timestamp rendering is deterministic and
  oracle-comparable regardless of host zone.
- Arrow enabled so any Pandas-UDF fallback path is batch-vectorized.
- Whole-stage codegen cache sized to the engine's working set (1000
  classes, Spark's default is 100). The cache is one per JVM and
  least-recently-used, so a query mix that generates more classes than it
  holds evicts every class before the next pass needs it, and each pass
  recompiles them all. It is a static conf, fixed when the JVM's first
  session starts: a driver that brings its own vanilla session (the
  ``__spark_entry__`` contract) keeps Spark's 100 entries, so deployments
  should launch with ``--conf spark.sql.codegen.cache.maxEntries=1000``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _default_driver_mem() -> str:
    """Local-mode driver-heap default: min(16g, ~60% of MemTotal,
    ~80% of MemAvailable).

    16g is what the sf1.0 bench needs headroom for on the 128 GiB dev
    box; on a smaller host an unclamped 16g heap would grow past
    physical RAM under load and get OOM-killed by the OS — worse than
    letting Spark spill inside a heap it can actually have. On a
    co-tenanted host MemTotal alone over-promises: 60% of a 128 GiB box
    with 4 GiB actually free is still an un-grantable heap, so the
    MemAvailable bound (when /proc/meminfo reports it) caps to what the
    OS can grant right now (round-9 advice). Whole-GiB granularity,
    floor 1 GiB (PySpark's own default).
    """
    total_kib = avail_kib = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kib = int(line.split()[1])
                elif line.startswith("MemAvailable:"):
                    avail_kib = int(line.split()[1])
    except OSError:
        pass
    if total_kib is None:
        return "16g"
    gib = total_kib / (1024 * 1024) * 0.6
    if avail_kib is not None:
        gib = min(gib, avail_kib / (1024 * 1024) * 0.8)
    return f"{max(1, min(16, int(gib)))}g"


def get_spark(
    app_name: str = "statline-bq-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` resolves from the argument, then ``$SPARK_GRAFT_CPUS``
    (``local[N]``), then ``local[*]``. On a real cluster pass ``master=None``
    and launch via spark-submit; the builder only sets a master when the
    environment doesn't already provide one.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce floor 256k (default 1m), env-overridable. The floor only
        # binds when a stage's total shuffle bytes are small — exactly the
        # engine's CPU-dense 8-byte-hash index stages (dedup pair
        # enumeration, shingle windows), which the 1m default was
        # serializing onto 3 of 32 local cores while per-row compute, not
        # bytes, was the cost. At cluster scale partitions sit far above
        # either floor, so the setting is inert there. Measured at sf0.1
        # (round 11, min-of-5 noop, repeated): ngram 1.77→0.94-1.05s,
        # minhash 1.30→1.14-1.18s, no query outside noise in the other
        # direction; 128k measured WORSE than the default (block/task
        # overhead dominates), 512k consistently behind 256k.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "256k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # 64 MB: the mid-size dimensions of a star schema (orders/customer
        # at test SF; code tables at any SF) hash-join map-side instead of
        # shuffling both inputs — 2.6x on the flagship star query. AQE still
        # decides per-join from OBSERVED sizes, so an SF-scaled table that
        # outgrows the threshold degrades gracefully to sort-merge.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # let Python data sources (sources/odata_source.py) receive filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Static conf, so set here and not via spark.conf.set. Working sets
        # measured at sf0.01: 173 generated classes for one pass of the
        # perfbench star mix, 543 for bench.py's 37 headliners. At the
        # default 100 entries the LRU evicted the whole star mix every
        # pass: 168 recompilations per pass, 0 at 1000.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(master)
        if master.startswith("local"):
            # PySpark's default spark.driver.memory is 1g, and in local
            # mode that IS the whole executor heap — found when the
            # sf1.0 (6M-lineitem) bench OOMed in a pair-count hash
            # aggregate that fits trivially in the machine's RAM (the
            # spurious-OOM symptom: GCLocker retry failures on ~1 MB
            # spill-buffer allocations). Heap is reserved lazily, so a
            # roomy default costs nothing at small SF — but it is
            # clamped to ~60% of physical RAM so a small host degrades
            # to Spark-managed spill instead of an OS OOM-kill. This is
            # a LOCAL-MODE lever only: cluster deploys size executors
            # via spark-submit and never hit this branch, and even
            # locally the setting is silently ignored if a JVM from a
            # previous (stopped-but-not-exited) session is still alive
            # — driver memory is a JVM-launch-time property.
            builder = builder.config(
                "spark.driver.memory",
                os.environ.get(
                    "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()
                ),
            )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""Table readers over the driver-provided Parquet star schema.

The reference materializes every CBS table as one Parquet file per table
(reference ``utils.py:118-132``) and queries them through BigQuery external
tables (``gcpl.py:586-602``). Here the equivalent "catalog" is a directory of
Parquet files; scans go through Spark's vectorized Parquet reader so filter
pushdown and column pruning apply automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables the driver generates at each scale factor (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension-sized tables — always broadcast-join these against facts.
#: Mirrors the reference's star model where code tables are tiny
#: (6–124 rows per fixture, SURVEY.md §1.1).
SMALL_DIMS = ("region", "nation", "customer", "supplier", "part")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


#: Chaos-testing hook: when set, every ``read_table`` scan is passed
#: through ``fn(df, name) -> DataFrame`` before being returned. The
#: retry-invariance sweep (tests/test_retry_parity.py) uses it to inject
#: a once-failing task into every scan — the cluster reality (task
#: retries, speculative re-execution) that local[32]'s default
#: fail-fast scheduler never exercises. Production leaves it None.
_SCAN_WRAPPER = None


def set_scan_wrapper(fn) -> None:
    """Install (or with ``None`` clear) the chaos scan wrapper."""
    global _SCAN_WRAPPER
    _SCAN_WRAPPER = fn


#: Parquet schema memo keyed on (path). Schema-ONCE, not data caching:
#: ``spark.read.parquet(path)`` re-infers the schema on every call, which
#: fires a footer-reading job + file listing — measured 55-70 ms per
#: read_table call (round 11), paid 1-5× per query build. Passing the
#: remembered StructType skips inference entirely; every query still
#: scans the parquet fresh. This mirrors the reference's schema-once
#: policy (S9) at the read side. Keyed per full path, so different SF
#: dirs / fixture copies never collide; static test data never changes
#: schema under one process.
_SCHEMA_CACHE: dict = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Equivalent of the reference's per-table Parquet read;
    Catalyst owns pushdown/pruning from here.

    The ``events`` table stores TIMESTAMP(NANOS) which Spark's parquet
    reader rejects outright; we read nanos as long via the legacy conf and
    rebuild a microsecond TIMESTAMP_NTZ (integer ``div`` — double division
    would lose microsecond precision on 19-digit nano values). Session tz is
    pinned to UTC so the long→NTZ hop is deterministic. This mirrors the
    reference's schema policy of explicitly coercing what the source
    declares oddly (reference ``utils.py:123-129``, ``statline.py:304-306``).
    """
    path = table_path(sf_dir, name)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = _SCHEMA_CACHE.get(path)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    if _SCAN_WRAPPER is not None:
        df = _SCAN_WRAPPER(df, name)
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so the SQL surface works too —
    the Spark analogue of the reference registering BigQuery external tables
    (reference ``gcpl.py:472-603``)."""
    for n in names:
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)

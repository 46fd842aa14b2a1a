"""Dataset pipeline orchestration: the reference's ``main.main`` ELT flow
(S10/S19/S25) rebuilt over Spark primitives.

Flow per dataset (reference ``main.py:379-586``):

1. incremental skip — compare source `Modified` vs stored `Modified`
   (S19, ``main.py:38-95``); skip unless changed or ``force``.
2. land tables — each table DataFrame written under the dated snapshot
   layout (S15), with DataProperties' dotted columns renamed (S11). The
   tables land concurrently, one Spark job each, from a thread pool sized
   to the cores, under the caller's job group and local properties. If any
   table fails, the in-flight writes finish and the error is re-raised
   before steps 3 and 4, so the next run does not skip.
3. metadata + column-description side files (S13/S14).
4. catalog registration — idempotent namespace + one external table per
   landed file, declared with the schema it was landed with and, for the
   main table, its column comments (S20/S21/S22) when
   ``endpoint="catalog"``.

``endpoint`` ∈ {"local", "catalog"} mirrors the reference's
{local, gcs, bq} endpoints (``main.py:536-537``) minus the cloud hop:
"gcs" collapses into "local" because a gs:// storage_root makes the same
`write.parquet` a cloud write via the Hadoop connector (S16's upload step
disappears by design, SURVEY.md §2.A).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Mapping
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from statline_bq_spark.functions.cleaning import rename_dotted_columns
from statline_bq_spark.plans import layout
from statline_bq_spark.observability import observed
from statline_bq_spark.sources import catalog as cat
from statline_bq_spark.sources import metadata as md
from statline_bq_spark.sources.odata import ingest_tables, table_file_name


@dataclass
class DatasetResult:
    dataset_id: str
    skipped: bool
    files: dict[str, str] = field(default_factory=dict)
    namespace: str | None = None
    tables: list[str] = field(default_factory=list)
    #: rows landed per file, observed inside the write job itself
    row_counts: dict[str, int] = field(default_factory=dict)


def _inheriting(spark: SparkSession, target: Callable) -> Callable:
    """``target`` wrapped to run under the caller's local properties (job
    group, ...). Wrap once per task: each wrap clones the properties, so
    concurrent jobs never share one Properties object (a job sets its SQL
    execution id in it). With PySpark's pinned-thread mode off,
    ``inheritable_thread_target`` hands back its argument, the session,
    instead of a decorator; the target then runs bare."""
    wrap = inheritable_thread_target(spark)
    return target if wrap is spark else wrap(target)


def process_dataset(
    spark: SparkSession,
    dataset_id: str,
    tables: Mapping[str, Callable[[], DataFrame]],
    metadata: dict,
    *,
    storage_root: str,
    source: str = "cbs",
    odata_version: str = "v3",
    endpoint: str = "local",
    force: bool = False,
    load_date: str | None = None,
    column_descriptions: dict[str, str] | None = None,
) -> DatasetResult:
    """Run the full per-dataset pipeline.

    ``tables`` maps table name → thunk producing its DataFrame (a thunk so
    skipped datasets never build/fetch anything — the reference's skip
    short-circuits before any download, ``main.py:553-565``).
    """
    # -- S19: incremental skip ------------------------------------------------
    meta_dir = layout.dataset_root(storage_root, source, odata_version, dataset_id)
    meta_path = os.path.join(
        meta_dir, md.metadata_file_name(source, odata_version, dataset_id)
    )
    stored = md.read_metadata(meta_path)
    if not force and not md.modified_changed(metadata, stored):
        return DatasetResult(dataset_id=dataset_id, skipped=True)

    # -- S10/S15: land the ingestable tables concurrently --------------------
    def land(table: str, thunk: Callable[[], DataFrame]) -> tuple[str, str, int, StructType]:
        df = thunk()
        if table == "DataProperties":
            df = rename_dotted_columns(df)  # S11, main.py:170-180
        file_name = table_file_name(source, odata_version, dataset_id, table)
        # S27 analogue: row count piggybacks on the write job (no re-scan)
        df, obs = observed(df, f"{dataset_id}.{table}")
        path = layout.write_snapshot(
            df,
            storage_root,
            source,
            odata_version,
            dataset_id,
            file_name,
            load_date=load_date,
        )
        return file_name, path, int(obs.get["rows"]), df.schema

    todo = sorted(ingest_tables(dict(tables)).items())
    workers = max(1, min(len(todo), spark.sparkContext.defaultParallelism))
    with ThreadPoolExecutor(workers) as pool:
        futures = [
            pool.submit(_inheriting(spark, land), table, thunk)
            for table, thunk in todo
        ]
        wait(futures, return_when=FIRST_EXCEPTION)
        pool.shutdown(cancel_futures=True)
    # Tasks start in submission order, so a failed task comes before any
    # cancelled one: result() re-raises the first failure in table order.
    landed = [f.result() for f in futures]
    files = {file_name: path for file_name, path, _, _ in landed}
    row_counts = {file_name: rows for file_name, _, rows, _ in landed}

    # -- S13/S14: side files --------------------------------------------------
    md.write_metadata(metadata, meta_dir, source, odata_version, dataset_id)
    if column_descriptions:
        md.write_metadata(
            column_descriptions,
            meta_dir,
            source,
            odata_version,
            dataset_id,
            suffix="ColDescriptions",
        )

    result = DatasetResult(
        dataset_id=dataset_id, skipped=False, files=files, row_counts=row_counts
    )

    # -- S20/S21/S22: catalog endpoint ---------------------------------------
    if endpoint == "catalog":
        ns = cat.namespace_name(source, odata_version, dataset_id)
        result.namespace = ns
        result.tables = cat.register_dataset_tables(
            spark,
            ns,
            files,
            {file_name: schema for file_name, _, _, schema in landed},
            description=metadata.get("ShortDescription"),
            column_descriptions=column_descriptions,
        )
    return result


def run_datasets(
    spark: SparkSession,
    datasets: Mapping[str, tuple[Mapping[str, Callable[[], DataFrame]], dict]],
    **kwargs,
) -> list[DatasetResult]:
    """Batch driver over independent datasets (reference S26 CLI loop,
    ``cli.py:78-86``). Datasets run one after another; within each,
    ``process_dataset`` lands the tables concurrently, up to one job per
    core."""
    return [
        process_dataset(spark, ds_id, tables, metadata, **kwargs)
        for ds_id, (tables, metadata) in datasets.items()
    ]

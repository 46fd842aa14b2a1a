"""End-to-end pipeline tests: the reference's golden-output strategy
(SURVEY.md §5 tier 4) against the driver's parquet fixtures."""

from __future__ import annotations

import pytest

from statline_bq_spark.io import read_table
from statline_bq_spark.pipeline import process_dataset
from tests.conftest import SF_SMOKE


@pytest.fixture()
def dataset(spark):
    """A CBS-shaped dataset faked from driver fixtures: nation as the wide
    fact, region as a dimension code table, plus a DataProperties table with
    dotted column names."""
    props = spark.createDataFrame(
        [("Topic", "Banen.Van.Werknemers", "jobs")],
        "`odata.type` string, `Key.Name` string, Description string",
    )
    tables = {
        "TypedDataSet": lambda: read_table(spark, SF_SMOKE, "nation"),
        "Regio": lambda: read_table(spark, SF_SMOKE, "region"),
        "DataProperties": lambda: props,
        "UntypedDataSet": lambda: (_ for _ in ()).throw(
            AssertionError("excluded table must never be materialized")
        ),
    }
    metadata = {"Identifier": "T1", "Modified": "2024-01-01T00:00:00",
                "ShortDescription": "test dataset"}
    return tables, metadata


def test_local_endpoint_lands_snapshot(spark, tmp_path, dataset):
    tables, metadata = dataset
    res = process_dataset(
        spark, "T1", tables, metadata,
        storage_root=str(tmp_path), endpoint="local", load_date="20240101",
    )
    assert not res.skipped
    assert set(res.files) == {
        "cbs.v3.T1_TypedDataSet", "cbs.v3.T1_Regio", "cbs.v3.T1_DataProperties",
    }
    # dotted DataProperties columns renamed (S11, main.py:170-180)
    dp = spark.read.parquet(res.files["cbs.v3.T1_DataProperties"])
    assert dp.columns == ["odata_type", "Key_Name", "Description"]
    # data round-trips; row counts observed inside the write job
    assert spark.read.parquet(res.files["cbs.v3.T1_TypedDataSet"]).count() == 25
    assert res.row_counts["cbs.v3.T1_TypedDataSet"] == 25
    assert res.row_counts["cbs.v3.T1_Regio"] == 5


def test_incremental_skip_and_force(spark, tmp_path, dataset):
    tables, metadata = dataset
    kwargs = dict(storage_root=str(tmp_path), endpoint="local", load_date="20240101")
    first = process_dataset(spark, "T1", tables, metadata, **kwargs)
    assert not first.skipped
    # unchanged Modified → skipped without touching any table thunk
    second = process_dataset(spark, "T1", tables, metadata, **kwargs)
    assert second.skipped
    # changed Modified → processed
    changed = dict(metadata, Modified="2024-06-01T00:00:00")
    third = process_dataset(spark, "T1", tables, changed, **kwargs)
    assert not third.skipped
    # force reprocesses even when unchanged
    fourth = process_dataset(spark, "T1", tables, changed, force=True, **kwargs)
    assert not fourth.skipped


def _bare(schema):
    """(name, type, nullable) per field: the schema with comments and
    other field metadata left out."""
    return [(f.name, f.dataType, f.nullable) for f in schema.fields]


def test_catalog_endpoint_registers_tables(spark, tmp_path, dataset):
    tables, metadata = dataset
    res = process_dataset(
        spark, "T1", tables, metadata,
        storage_root=str(tmp_path), endpoint="catalog", load_date="20240101",
        column_descriptions={
            "n_name": "nation\r\n name",
            "n_regionkey": "x" * 2000,
            "n_nationkey": None,
            "absent_col": "ignored",
        },
    )
    assert res.namespace == "cbs_v3_T1"
    assert sorted(res.tables) == [
        "T1_DataProperties", "T1_Regio", "T1_TypedDataSet",
    ]
    tbl = spark.table("cbs_v3_T1.T1_TypedDataSet")
    assert tbl.count() == 25
    comments = {f.name: f.metadata.get("comment") for f in tbl.schema.fields}
    assert comments["n_name"] == "nation name"  # CR/LF stripped
    assert comments["n_regionkey"] == "x" * 1020 + "..."
    assert comments["n_nationkey"] is None
    # registered from the landed schema: identical to what the files hold,
    # including DataProperties' renamed columns; only the main table is
    # commented
    for file_name, path in res.files.items():
        table = spark.table(f"cbs_v3_T1.{file_name.split('.')[2]}")
        assert _bare(table.schema) == _bare(spark.read.parquet(path).schema)
        if not file_name.endswith("_TypedDataSet"):
            assert not any("comment" in f.metadata for f in table.schema.fields)
    dp = spark.table("cbs_v3_T1.T1_DataProperties")
    assert dp.columns == ["odata_type", "Key_Name", "Description"]
    spark.sql("DROP DATABASE IF EXISTS cbs_v3_T1 CASCADE")


def test_landing_jobs_run_under_the_callers_job_group(spark, tmp_path, dataset):
    """Tables land from a thread pool, and every landing job still carries
    the caller's job group: no job of the call runs outside it."""
    tables, metadata = dataset
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("pipeline-land-T1", "landing under one job group")
    try:
        res = process_dataset(
            spark, "T1", tables, metadata,
            storage_root=str(tmp_path), endpoint="local", load_date="20240101",
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(res.files) == 3
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert len(tracker.getJobIdsForGroup("pipeline-land-T1")) >= len(res.files)


def test_failed_table_lands_no_metadata_and_registers_nothing(spark, tmp_path, dataset):
    """One failing table fails the call after the other writes finish:
    no metadata side file, no namespace, and the rerun is not skipped."""
    tables, metadata = dataset
    broken = dict(tables, Regio=lambda: (_ for _ in ()).throw(RuntimeError("page 3 failed")))
    kwargs = dict(storage_root=str(tmp_path), endpoint="catalog", load_date="20240101")
    spark.sql("DROP DATABASE IF EXISTS cbs_v3_T1 CASCADE")
    with pytest.raises(RuntimeError, match="page 3 failed"):
        process_dataset(spark, "T1", broken, metadata, **kwargs)
    assert not list(tmp_path.rglob("*_Metadata.json"))
    assert not spark.catalog.databaseExists("cbs_v3_T1")

    rerun = process_dataset(spark, "T1", tables, metadata, **kwargs)
    assert not rerun.skipped
    assert sorted(rerun.tables) == ["T1_DataProperties", "T1_Regio", "T1_TypedDataSet"]
    spark.sql("DROP DATABASE IF EXISTS cbs_v3_T1 CASCADE")


def test_cli_lands_dataset_from_local_parquet(spark, tmp_path):
    """S26 console-script parity (reference cli.py:36-87): config-driven
    env target, dataset-id arg, offline --tables-from landing, and the
    second run skipping via the incremental Modified check."""
    import json

    from click.testing import CliRunner

    from statline_bq_spark.cli import upload_datasets

    src = tmp_path / "src"
    src.mkdir()
    read_table(spark, SF_SMOKE, "region").write.parquet(str(src / "Regio.parquet"))
    (src / "T9_Metadata.json").write_text(
        json.dumps({"Identifier": "T9", "Modified": "2024-01-01T00:00:00"})
    )
    store = tmp_path / "store"
    cfg = tmp_path / "config.toml"
    cfg.write_text(
        f'datasets = ["T9"]\n[envs.dev]\nstorage_root = "{store}"\n'
    )

    runner = CliRunner()
    res = runner.invoke(
        upload_datasets, ["--config", str(cfg), "--tables-from", str(src)]
    )
    assert res.exit_code == 0, res.output
    assert "T9: landed 1 files" in res.output
    assert "Finished processing datasets." in res.output
    landed = list(store.rglob("*.parquet"))
    assert landed, "no parquet landed under the storage root"

    # unchanged Modified -> skip; --force -> reprocess
    res2 = runner.invoke(
        upload_datasets, ["--config", str(cfg), "--tables-from", str(src)]
    )
    assert res2.exit_code == 0, res2.output
    assert "T9: skipped (unchanged)" in res2.output
    res3 = runner.invoke(
        upload_datasets,
        ["--config", str(cfg), "--dataset-id", "T9", "--force",
         "--tables-from", str(src)],
    )
    assert res3.exit_code == 0, res3.output
    assert "T9: landed 1 files" in res3.output


def test_uri_storage_root_via_hadoop_path(spark, tmp_path, dataset):
    """S16 smoke: a URI storage_root ('file://' here — same mechanism as
    'gs://' through the Hadoop connector for parquet and pyarrow.fs for
    the JSON side files) lands the full snapshot AND round-trips the
    incremental-skip metadata read."""
    tables, metadata = dataset
    root = f"file://{tmp_path}"
    res = process_dataset(
        spark, "T1", tables, metadata,
        storage_root=root, endpoint="local", load_date="20240101",
    )
    assert not res.skipped
    assert res.files
    # parquet physically landed under the local rendering of the URI
    landed = list(tmp_path.rglob("*.parquet"))
    assert landed
    meta_files = list(tmp_path.rglob("*_Metadata.json"))
    assert meta_files, "metadata side file missing under URI root"
    # second run must SKIP via the metadata read over the same URI root
    res2 = process_dataset(
        spark, "T1", tables, metadata,
        storage_root=root, endpoint="local", load_date="20240101",
    )
    assert res2.skipped


def test_cli_catalog_endpoint_registers_tables(spark, tmp_path):
    """--endpoint catalog must land files AND register external tables in
    the session catalog (reference BQ endpoint, S20-S22)."""
    import json

    from click.testing import CliRunner

    from statline_bq_spark.cli import upload_datasets

    src = tmp_path / "src"
    src.mkdir()
    read_table(spark, SF_SMOKE, "region").write.parquet(str(src / "Regio.parquet"))
    (src / "C1_Metadata.json").write_text(
        json.dumps({"Identifier": "C1", "Modified": "2024-03-03T00:00:00"})
    )
    store = tmp_path / "store"
    cfg = tmp_path / "config.toml"
    cfg.write_text(f'[envs.dev]\nstorage_root = "{store}"\n')

    res = CliRunner().invoke(
        upload_datasets,
        ["--config", str(cfg), "--dataset-id", "C1",
         "--tables-from", str(src), "--endpoint", "catalog"],
    )
    assert res.exit_code == 0, res.output
    assert "C1: landed 1 files" in res.output
    ns = next(
        db.name for db in spark.catalog.listDatabases() if "c1" in db.name
    )
    tables = [t.name for t in spark.catalog.listTables(ns)]
    assert any(t.endswith("regio") for t in tables), tables
    spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")


def test_cli_run_query_count_and_errors(spark):
    """The query runner CLI resolves workload names, runs on the smoke
    tables, and suggests near-misses for typos."""
    from click.testing import CliRunner

    from statline_bq_spark import cli
    from tests.conftest import SF_SMOKE

    r = CliRunner().invoke(
        cli.run_query, ["pricing_summary", "--sf-dir", SF_SMOKE, "--count-only"]
    )
    assert r.exit_code == 0, r.output
    assert int(r.output.strip().splitlines()[-1]) > 0

    r = CliRunner().invoke(cli.run_query, ["list"])
    assert r.exit_code == 0
    assert "pricing_summary" in r.output

    r = CliRunner().invoke(cli.run_query, ["pricing_sumary"])
    assert r.exit_code != 0
    assert "Did you mean" in r.output

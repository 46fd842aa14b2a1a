"""Unit tests for the ingest layer: OData planning, EDM schema mapping,
ndjson conversion, catalog registration, layout, metadata, config —
mirroring the reference's test strategy (SURVEY.md §5: unit tests with
fixtures + golden assertions)."""

from __future__ import annotations

import json
import os

import pytest

from statline_bq_spark.config import EngineConfig, EnvTarget, check_env, load_config, resolve_target
from statline_bq_spark.plans import layout
from statline_bq_spark.sources import catalog as cat
from statline_bq_spark.sources import metadata as md
from statline_bq_spark.sources import ndjson, odata


# --- odata planning (S1-S8) -------------------------------------------------

def test_page_sizes_match_reference():
    # reference statline.py:221-223
    assert odata.page_size("v3") == 10_000
    assert odata.page_size("v4") == 100_000


def test_plan_page_urls_v3():
    urls = odata.plan_page_urls("http://x/Data", 304_128, "v3")
    assert len(urls) == 31  # ceil(304128 / 10000) — metadata_v3 golden shape
    assert urls[0].endswith("$skip=0")
    assert urls[-1].endswith("$skip=300000")


def test_plan_page_urls_v4_and_empty():
    assert len(odata.plan_page_urls("http://x/Observations", 1_537_850, "v4")) == 16
    assert len(odata.plan_page_urls("http://x/T", 0, "v3")) == 1
    # existing query string → '&' separator
    assert "?a=1&$skip=0" in odata.plan_page_urls("http://x/T?a=1", 5, "v3")[0]


def test_page_plan_df(spark):
    df = odata.page_plan_df(spark, "http://x/Data", 25_000, "v3")
    rows = df.collect()
    assert [r.page for r in rows] == [0, 1, 2]
    assert rows[2].url == "http://x/Data?$skip=20000"
    assert df.rdd.getNumPartitions() == 3  # one partition per page


def test_shape_from_metadata():
    v3 = odata.shape_from_metadata({"RecordCount": 304128, "ColumnCount": 10})
    assert v3.row_count == 304128 and v3.n_columns == 10
    v4 = odata.shape_from_metadata({"ObservationCount": 2432})
    assert v4.row_count == 2432


def test_excluded_tables():
    tables = {"TypedDataSet": "u1", "UntypedDataSet": "u2", "Properties": "u3",
              "TableInfos": "u4", "Perioden": "u5"}
    kept = odata.ingest_tables(tables)
    assert set(kept) == {"TypedDataSet", "Perioden"}


def test_table_file_name():
    # reference naming {source}.{vN}.{id}_{table}, parsed by gcpl.py:589
    name = odata.table_file_name("cbs", "v3", "83583NED", "TypedDataSet")
    assert name == "cbs.v3.83583NED_TypedDataSet"
    assert cat.table_id_from_file_name(name) == "83583NED_TypedDataSet"


CSDL = """<?xml version="1.0" encoding="utf-8"?>
<edmx:Edmx xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx" Version="4.0">
 <edmx:DataServices>
  <Schema xmlns="http://docs.oasis-open.org/odata/ns/edm" Namespace="Cbs">
   <EntityType Name="TData">
    <Property Name="ID" Type="Edm.Int32" Nullable="false"/>
    <Property Name="Perioden" Type="Edm.String"/>
    <Property Name="Banen" Type="Edm.Double"/>
    <Property Name="Flag" Type="Edm.Boolean"/>
    <Property Name="When" Type="Edm.DateTimeOffset"/>
   </EntityType>
  </Schema>
 </edmx:DataServices>
</edmx:Edmx>"""


def test_edm_schema_to_struct():
    st = odata.edm_schema_to_struct(CSDL)
    by_name = {f.name: f for f in st.fields}
    assert by_name["ID"].dataType.typeName() == "integer"
    assert not by_name["ID"].nullable
    assert by_name["Perioden"].dataType.typeName() == "string"
    assert by_name["Banen"].dataType.typeName() == "double"
    assert by_name["Flag"].dataType.typeName() == "boolean"
    # unmapped EDM type defaults to string (reference statline.py:304-306)
    assert by_name["When"].dataType.typeName() == "string"


# --- ndjson → parquet (S9) --------------------------------------------------

def test_ndjson_to_parquet_schema_enforced(spark, tmp_path):
    p1 = tmp_path / "page0.ndjson"
    p2 = tmp_path / "page1.ndjson"
    p1.write_text('{"ID": 1, "Val": 1.5}\n{"ID": 2, "Val": 2.5}\n')
    # page 2 is missing Val on one row → declared schema forces null
    p2.write_text('{"ID": 3}\n')
    out = ndjson.ndjson_to_parquet(
        spark, [str(p1), str(p2)], str(tmp_path / "out.parquet")
    )
    rows = {r.ID: r.Val for r in out.collect()}
    assert rows == {1: 1.5, 2: 2.5, 3: None}


def test_ndjson_first_file_inference_policy(spark, tmp_path):
    p1 = tmp_path / "a.ndjson"
    p1.write_text('{"ID": 1}\n')
    schema = ndjson.infer_schema_from_first_file(spark, [str(p1)])
    assert [f.name for f in schema.fields] == ["ID"]


def test_ndjson_all_null_column_degrades_to_string(spark, tmp_path):
    # all-null column (the reference's null-typed ParentID fixture case):
    # VOID is unwritable to Parquet — policy casts it to string
    p1 = tmp_path / "a.ndjson"
    p1.write_text('{"ID": 1, "ParentID": null}\n{"ID": 2, "ParentID": null}\n')
    out = ndjson.ndjson_to_parquet(
        spark, [str(p1)], str(tmp_path / "out.parquet")
    )
    by_name = {f.name: f.dataType.typeName() for f in out.schema.fields}
    assert by_name["ParentID"] == "string"
    assert [r.ParentID for r in out.collect()] == [None, None]


# --- catalog (S20/S21/S22) --------------------------------------------------

def _bare(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema.fields]


def test_catalog_register_and_comment(spark, tmp_path):
    df = spark.range(3).selectExpr(
        "id AS k", "id * 2 AS v", "named_struct('a b', id, 'c', array(id)) AS s",
        "map('x', CAST(id AS DOUBLE)) AS m",
    )
    path = str(tmp_path / "t.parquet")
    df.write.parquet(path)
    side = str(tmp_path / "side.parquet")
    df.select("k").write.parquet(side)
    ns = "cbs_v3_TEST1"
    files = {"cbs.v3.TEST1_TypedDataSet": path, "cbs.v3.TEST1_X_TypedDataSet": side}
    descriptions = {"k": "key\r\ncol", "v": "x" * 2000, "s": None, "zz": "absent"}
    # declared from the landed schema (NOT NULL `k` is declared nullable,
    # as Parquet reads it back) ...
    schemas = {"cbs.v3.TEST1_TypedDataSet": df.schema,
               "cbs.v3.TEST1_X_TypedDataSet": df.select("k").schema}
    tables = cat.register_dataset_tables(
        spark, ns, files, schemas, description="demo", column_descriptions=descriptions,
    )
    assert tables == ["TEST1_TypedDataSet", "TEST1_X_TypedDataSet"]
    assert spark.table(f"{ns}.TEST1_TypedDataSet").count() == 3
    for file_name, table in zip(sorted(files), tables):
        registered = spark.table(f"{ns}.{table}").schema
        assert _bare(registered) == _bare(spark.read.parquet(files[file_name]).schema)

    def comments(table):
        return {f.name: f.metadata.get("comment") for f in spark.table(f"{ns}.{table}").schema.fields}

    # ... with only the first *_TypedDataSet table commented
    assert comments("TEST1_TypedDataSet") == {
        "k": "keycol", "v": "x" * 1020 + "...", "s": None, "m": None,
    }
    assert comments("TEST1_X_TypedDataSet") == {"k": None}
    # idempotent: registering again recreates cleanly (S20 drop-cascade)
    tables = cat.register_dataset_tables(
        spark, ns, {"cbs.v3.TEST1_TypedDataSet": path}, schemas
    )
    assert tables == ["TEST1_TypedDataSet"]
    assert comments("TEST1_TypedDataSet") == dict.fromkeys("kvsm")
    n = cat.patch_column_descriptions(spark, ns, "TEST1_TypedDataSet", descriptions)
    assert n == 2
    assert comments("TEST1_TypedDataSet") == {
        "k": "keycol", "v": "x" * 1020 + "...", "s": None, "m": None,
    }
    spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")


def test_catalog_sql_literals_round_trip(spark, tmp_path):
    """Comments, the database comment and the location reach the catalog
    verbatim: quotes, backslash sequences, a trailing backslash and a
    ``${...}`` variable reference are not reinterpreted by the parser."""
    root = tmp_path / "it's here"
    path = str(root / "t.parquet")
    spark.range(2).selectExpr("id AS k", "id AS v").write.parquet(path)
    ns = "cbs_v3_TEST2"
    text = {"k": "it's C:\\temp\\new", "v": "ends in \\"}
    cat.register_dataset_tables(
        spark, ns, {"cbs.v3.TEST2_TypedDataSet": path},
        {"cbs.v3.TEST2_TypedDataSet": spark.read.parquet(path).schema},
        description="owner's ${spark.app.name} set", column_descriptions=text,
    )
    assert spark.catalog.getDatabase(ns).description == "owner's ${spark.app.name} set"
    tbl = spark.table(f"{ns}.TEST2_TypedDataSet")
    assert tbl.count() == 2
    assert {f.name: f.metadata["comment"] for f in tbl.schema.fields} == text
    assert cat.patch_column_descriptions(
        spark, ns, "TEST2_TypedDataSet", {"k": "tab\\t'"}
    ) == 1
    comment = spark.table(f"{ns}.TEST2_TypedDataSet").schema["k"].metadata["comment"]
    assert comment == "tab\\t'"
    spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")


# --- layout (S15/S17) -------------------------------------------------------

def test_snapshot_layout_and_latest(spark, tmp_path):
    root = str(tmp_path)
    df = spark.range(5)
    layout.write_snapshot(df, root, "cbs", "v3", "D1", "t", load_date="20240101")
    layout.write_snapshot(df, root, "cbs", "v3", "D1", "t", load_date="20240301")
    layout.write_snapshot(df, root, "cbs", "v3", "D1", "t", load_date="20240215")
    assert layout.list_snapshot_dates(root, "cbs", "v3", "D1") == [
        "20240101", "20240215", "20240301",
    ]
    assert layout.latest_snapshot_date(root, "cbs", "v3", "D1") == "20240301"
    latest = layout.read_latest_snapshot(spark, root, "cbs", "v3", "D1", "t")
    assert latest.count() == 5
    assert latest.select("load_date").distinct().collect()[0][0] == "20240301"


def test_compact_snapshot(spark, tmp_path):
    import glob

    path = str(tmp_path / "many")
    # a long tail of small files, as paged ingest leaves behind
    spark.range(10_000).repartition(64).write.parquet(path)
    before = glob.glob(path + "/*.parquet")
    assert len(before) == 64
    data_before = sorted(r.id for r in spark.read.parquet(path).collect())
    n = layout.compact_snapshot(spark, path, target_file_bytes=1 << 30)
    after = glob.glob(path + "/*.parquet")
    assert n == 1 and len(after) == 1
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == data_before
    assert not glob.glob(path + ".compact.tmp")


def test_compact_snapshot_self_heals_crashed_swap(spark, tmp_path):
    """The rename-park-delete swap can crash (a) between the two renames —
    .compact.old holds the ONLY copy and the canonical path is missing —
    or (b) after the second rename — .compact.old is leftover garbage
    beside a healthy canonical dir. On entry, compact must recover (a) by
    renaming back and clear (b) so its own first rename can't fail on an
    existing destination."""
    import glob
    import os
    import shutil

    # (a) crash between renames: only .compact.old exists
    path = str(tmp_path / "snap")
    spark.range(500).repartition(8).write.parquet(path)
    data = sorted(r.id for r in spark.read.parquet(path).collect())
    os.rename(path, path + ".compact.old")
    assert not os.path.exists(path)
    n = layout.compact_snapshot(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == data
    assert not os.path.exists(path + ".compact.old")

    # (b) crash after second rename: stale .compact.old beside live data
    shutil.copytree(path, path + ".compact.old")
    n = layout.compact_snapshot(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == data
    assert not os.path.exists(path + ".compact.old")
    assert not glob.glob(path + ".compact.tmp")

    # same contract through the pyarrow.fs URI branch
    upath = f"file://{tmp_path}/usnap"
    lpath = str(tmp_path / "usnap")
    spark.range(200).repartition(4).write.parquet(upath)
    udata = sorted(r.id for r in spark.read.parquet(upath).collect())
    os.rename(lpath, lpath + ".compact.old")
    n = layout.compact_snapshot(spark, upath, target_file_bytes=1 << 30)
    assert n == 1
    assert sorted(r.id for r in spark.read.parquet(upath).collect()) == udata
    assert not os.path.exists(lpath + ".compact.old")


def test_expire_snapshots_keeps_latest(spark, tmp_path):
    root = str(tmp_path)
    df = spark.range(3)
    for d in ("20240101", "20240215", "20240301", "20240401"):
        layout.write_snapshot(df, root, "cbs", "v3", "D1", "t", load_date=d)
    gone = layout.expire_snapshots(root, "cbs", "v3", "D1", keep_latest=2)
    assert gone == ["20240101", "20240215"]
    assert layout.list_snapshot_dates(root, "cbs", "v3", "D1") == [
        "20240301", "20240401",
    ]
    # older_than narrows the victim set; latest always survives
    gone2 = layout.expire_snapshots(
        root, "cbs", "v3", "D1", keep_latest=1, older_than="20240301"
    )
    assert gone2 == []
    assert layout.latest_snapshot_date(root, "cbs", "v3", "D1") == "20240401"
    with pytest.raises(ValueError):
        layout.expire_snapshots(root, "cbs", "v3", "D1", keep_latest=0)


def test_snapshot_uri_storage_root(spark, tmp_path):
    """S16 smoke path (reference ``gcpl.py:170-229``): the whole snapshot
    lifecycle — write, list, latest-read, expire, metadata side file —
    through an absolute ``file://`` URI ``storage_root``. Spark resolves
    the URI via Hadoop's FileSystem and the listing/side-file code via
    ``pyarrow.fs``; a ``gs://`` root takes the identical code path once
    the GCS connector jar is on the Spark classpath and pyarrow's GcsFileSystem
    has credentials — no sandbox cloud, so ``file://`` documents the claim."""
    root = f"file://{tmp_path}"
    df = spark.range(5)
    for d in ("20240101", "20240301"):
        p = layout.write_snapshot(df, root, "cbs", "v3", "D1", "t", load_date=d)
        assert p.startswith("file://")
    assert layout.list_snapshot_dates(root, "cbs", "v3", "D1") == [
        "20240101", "20240301",
    ]
    latest = layout.read_latest_snapshot(spark, root, "cbs", "v3", "D1", "t")
    assert latest.count() == 5
    assert latest.select("load_date").distinct().collect()[0][0] == "20240301"
    assert layout.snapshot_date_asof(root, "cbs", "v3", "D1", "20240215") == "20240101"
    gone = layout.expire_snapshots(root, "cbs", "v3", "D1", keep_latest=1)
    assert gone == ["20240101"]
    assert layout.list_snapshot_dates(root, "cbs", "v3", "D1") == ["20240301"]
    # the S14 metadata side file lands next to the parquet via the same root
    mpath = md.write_metadata(
        {"Title": "x"}, f"{root}/cbs/v3/D1/20240301", "cbs", "v3", "D1"
    )
    assert (tmp_path / "cbs/v3/D1/20240301" / os.path.basename(mpath)).exists()
    # compaction through the URI path: many small files -> one
    import glob

    many = f"{root}/cbs/v3/D1/20240301/t"
    spark.range(1000).repartition(16).write.mode("overwrite").parquet(many)
    n = layout.compact_snapshot(spark, many, target_file_bytes=1 << 30)
    local_many = str(tmp_path / "cbs/v3/D1/20240301/t")
    assert n == 1 and len(glob.glob(local_many + "/*.parquet")) == 1
    assert spark.read.parquet(many).count() == 1000
    assert not glob.glob(local_many + ".compact.tmp")


def test_latest_snapshot_missing(spark, tmp_path):
    assert layout.latest_snapshot_date(str(tmp_path), "cbs", "v3", "NOPE") is None
    with pytest.raises(FileNotFoundError):
        layout.read_latest_snapshot(spark, str(tmp_path), "cbs", "v3", "NOPE", "t")


# --- metadata (S13/S14/S19) -------------------------------------------------

def test_metadata_roundtrip_and_naming(tmp_path):
    meta = {"Identifier": "83583NED", "Modified": "2020-11-19T02:00:00"}
    path = md.write_metadata(meta, str(tmp_path), "cbs", "v3", "83583NED")
    assert os.path.basename(path) == "cbs.v3.83583NED_Metadata.json"
    assert md.read_metadata(path) == meta
    assert md.read_metadata(str(tmp_path / "missing.json")) is None


def test_modified_changed():
    a = {"Modified": "2020-01-01"}
    b = {"Modified": "2020-06-01"}
    assert md.modified_changed(a, None)          # nothing stored → process
    assert md.modified_changed(a, b)             # stamps differ → process
    assert not md.modified_changed(a, dict(a))   # unchanged → skip


def test_column_descriptions_df(spark):
    props = spark.createDataFrame(
        [("Col1", "desc\nwith newline"), ("Col2", "y" * 2000), (None, "zz")],
        "Key string, Description string",
    )
    out = {r.Key: r.Description for r in md.column_descriptions_df(props).collect()}
    assert out["Col1"] == "descwith newline"
    assert len(out["Col2"]) == 1023 and out["Col2"].endswith("...")
    assert None not in out


# --- config (S24) -----------------------------------------------------------

def test_config_load_and_routing(tmp_path):
    cfg_file = tmp_path / "config.toml"
    cfg_file.write_text(
        'datasets = ["83583NED", "83765NED"]\n'
        "[envs.dev]\nstorage_root = '/tmp/s'\n"
        "[envs.prod]\nstorage_root = '/data/cbs'\n"
        "[envs.prod_external]\nstorage_root = '/data/external'\n"
    )
    cfg = load_config(str(cfg_file))
    assert cfg.datasets == ("83583NED", "83765NED")
    assert resolve_target(cfg, "prod", "cbs").storage_root == "/data/cbs"
    # non-cbs source routes to the external target (reference gcpl.py:20-50)
    assert resolve_target(cfg, "prod", "iv3").storage_root == "/data/external"
    # env without a dedicated external target falls back
    assert resolve_target(cfg, "dev", "iv3").storage_root == "/tmp/s"
    with pytest.raises(ValueError):
        check_env("staging")


def test_write_clustered_produces_prunable_row_groups(spark, tmp_path):
    """`layout.write_clustered` must produce tight, disjoint per-file key
    ranges so parquet min/max stats actually prune scans — the data-layout
    property 100 TB reads depend on. Checked against the physical parquet
    metadata (pyarrow), not just the plan."""
    import pyarrow.parquet as pq

    from statline_bq_spark.io import read_table
    from statline_bq_spark.plans import layout
    from tests.conftest import SF_SMOKE

    orders = read_table(spark, SF_SMOKE, "orders")
    out = str(tmp_path / "orders_clustered")
    layout.write_clustered(orders, out, ["o_custkey"], n_files=4)

    ranges = []
    for f in sorted(os.listdir(out)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "o_custkey"
        )
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            assert st is not None and st.has_min_max
            ranges.append((st.min, st.max))
    assert len(ranges) >= 4
    # ranges must be non-overlapping once sorted (disjoint key ownership)
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping row-group ranges {(lo1, hi1)} {(lo2, hi2)}"
    # round-trip integrity
    assert spark.read.parquet(out).count() == orders.count()


def test_snapshot_asof_time_travel(spark, tmp_path):
    """read_snapshot_asof resolves the newest snapshot <= the given date
    (time travel over the dated folders), errors before the first one, and
    never reads newer data."""
    import pytest as _pytest

    root = str(tmp_path)
    for d, n in (("20240101", 3), ("20240215", 5), ("20240301", 7)):
        layout.write_snapshot(
            spark.range(n), root, "cbs", "v3", "D1", "t", load_date=d
        )
    assert layout.snapshot_date_asof(root, "cbs", "v3", "D1", "20240220") == "20240215"
    assert layout.snapshot_date_asof(root, "cbs", "v3", "D1", "20240215") == "20240215"
    assert layout.snapshot_date_asof(root, "cbs", "v3", "D1", "20231231") is None
    asof = layout.read_snapshot_asof(
        spark, root, "cbs", "v3", "D1", "t", "20240220"
    )
    assert asof.count() == 5
    assert asof.select("load_date").distinct().collect()[0][0] == "20240215"
    with _pytest.raises(FileNotFoundError):
        layout.read_snapshot_asof(
            spark, root, "cbs", "v3", "D1", "t", "20231230"
        )
    with _pytest.raises(ValueError):
        layout.snapshot_date_asof(root, "cbs", "v3", "D1", "2024-02-20")


def test_evolve_union_widening_and_nullfill(spark):
    """Schema drift across snapshots: added columns null-fill, int widens
    to long, long+double widen to double, long+float widen to double,
    type conflicts (int vs string) fall back to string (the reference's
    unmapped-type policy extended to conflicts)."""
    from statline_bq_spark.sources import evolution

    a = spark.createDataFrame(
        [(1, 10, 15, "x", 7)], "id int, n int, v long, s string, c int"
    )
    b = spark.createDataFrame(
        [(2, 20, 2.5, "y", "oops", True)],
        "id long, n long, v double, s string, c string, added boolean",
    )
    out = evolution.evolve_union(a, b)
    got = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert got == {
        "id": "bigint", "n": "bigint", "v": "double", "s": "string",
        "c": "string", "added": "boolean",
    }
    rows = {r.id: r for r in out.collect()}
    assert rows[1].added is None and rows[1].c == "7"
    assert rows[2].added is True and rows[2].v == 2.5
    # long + float -> double (neither side losslessly holds the other)
    f1 = spark.createDataFrame([(1.5,)], "x float")
    f2 = spark.createDataFrame([(2,)], "x long")
    assert (
        evolution.evolve_union(f1, f2).schema["x"].dataType.simpleString()
        == "double"
    )


def test_ndjson_sink_python_datasource_writer(spark, tmp_path):
    """The custom Python Data Source WRITE path: each task writes one
    ndjson file, the driver commit records a manifest, and reading the
    manifest-listed files back through the schema-enforced ndjson reader
    round-trips every row."""
    import json as _json

    from statline_bq_spark.sources import ndjson_sink

    ndjson_sink.register(spark)
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "newline \n inside", None)],
        "id long, name string, score double",
    ).repartition(2)
    out = str(tmp_path / "nd")
    df.write.format("ndjson_sink").option("path", out).mode("append").save()

    manifest = ndjson_sink.read_manifest(out)
    assert manifest["rows"] == 3
    assert len(manifest["files"]) == 2  # one file per partition
    rows = []
    for fname in manifest["files"]:
        with open(f"{out}/{fname}", encoding="utf-8") as f:
            rows += [_json.loads(line) for line in f if line.strip()]
    assert sorted(r["id"] for r in rows) == [1, 2, 3]
    by_id = {r["id"]: r for r in rows}
    assert by_id[3]["name"] == "newline \n inside"
    assert by_id[3]["score"] is None
    # round-trip through Spark's own json reader with the original schema
    back = spark.read.schema(df.schema).json(f"{out}/part-*.ndjson")
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


# --- incremental view maintenance (plans/incremental) -----------------------

def test_incremental_view_merge_equals_full(spark, tmp_path):
    """Three successive refreshes over disjoint deltas must equal one
    aggregation of the union — the mergeable-monoid contract
    (plans/incremental.py); state is snapshot-versioned, not in-place."""
    from statline_bq_spark.plans import incremental as inc

    specs = [
        inc.AggSpec("count", None, "n"),
        inc.AggSpec("sum", "v", "total"),
        inc.AggSpec("min", "v", "lo"),
        inc.AggSpec("max", "v", "hi"),
    ]
    view = inc.IncrementalView(str(tmp_path), "sales_by_k", ["k"], specs)
    deltas = [
        [("a", 10), ("b", 1)],
        [("a", 5), ("c", 7)],
        [("b", 2), ("a", -3)],
    ]
    rows = []
    for i, d in enumerate(deltas):
        rows += d
        view.refresh(
            spark,
            spark.createDataFrame(d, "k string, v long"),
            load_date=f"2024010{i + 1}",
        )
    got = {
        r["k"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in view.read(spark).collect()
    }
    full = (
        spark.createDataFrame(rows, "k string, v long")
        .groupBy("k")
        .agg(
            __import__("pyspark").sql.functions.count("*").alias("n"),
            __import__("pyspark").sql.functions.sum("v").alias("total"),
            __import__("pyspark").sql.functions.min("v").alias("lo"),
            __import__("pyspark").sql.functions.max("v").alias("hi"),
        )
    )
    want = {r["k"]: (r["n"], r["total"], r["lo"], r["hi"]) for r in full.collect()}
    assert got == want
    # three dated snapshots exist — time travel preserved, nothing in-place
    assert layout.list_snapshot_dates(str(tmp_path), "views", "v1", "sales_by_k") == [
        "20240101",
        "20240102",
        "20240103",
    ]
    # avg derives at read time from maintained sum+count
    avg = inc.with_avg(view.read(spark), sum_col="total", count_col="n", out="mean")
    assert {r["k"]: r["mean"] for r in avg.collect()}["a"] == (10 + 5 - 3) / 3


def test_incremental_view_same_date_refresh_is_safe(spark, tmp_path):
    """A same-date refresh (retry of a failed load, two loads in one day)
    reads the latest snapshot from the very path it overwrites — the merge
    must be materialized before the write, or Spark fails with 'Cannot
    overwrite a path that is also being read from'. A load_date older than
    the latest snapshot is rejected (it would silently never be the state
    read() returns)."""
    from statline_bq_spark.plans import incremental as inc

    specs = [inc.AggSpec("count", None, "n"), inc.AggSpec("sum", "v", "total")]
    view = inc.IncrementalView(str(tmp_path), "retry_view", ["k"], specs)
    mk = lambda rows: spark.createDataFrame(rows, "k string, v long")  # noqa: E731
    view.refresh(spark, mk([("a", 10)]), load_date="20240101")
    view.refresh(spark, mk([("a", 5)]), load_date="20240102")
    # same-date retry folds on top of the just-written state, in place
    view.refresh(spark, mk([("a", 1)]), load_date="20240102")
    got = {r["k"]: (r["n"], r["total"]) for r in view.read(spark).collect()}
    assert got == {"a": (3, 16)}
    assert layout.list_snapshot_dates(str(tmp_path), "views", "v1", "retry_view") == [
        "20240101",
        "20240102",
    ]
    with pytest.raises(ValueError, match="monotone"):
        view.refresh(spark, mk([("a", 1)]), load_date="20240101")


def test_incremental_view_rejects_nonmergeable():
    from statline_bq_spark.plans import incremental as inc

    with pytest.raises(ValueError, match="not incrementally maintainable"):
        inc.AggSpec("count_distinct", "v", "nd")

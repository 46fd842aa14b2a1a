"""Dataset-metadata side files and column descriptions.

Reference semantics:

- S14 JSON document sink (``utils.py:50-94``): a per-dataset metadata dict
  persisted as ``{source}.{vN}.{id}_Metadata.json`` beside the tables.
- S13 description projection (``statline.py:349-377``): DataProperties rows
  → {Key: Description}, newline-stripped, truncated to the 1024-char cap.
- S19's change detection compares the CBS ``Modified`` stamp against the
  stored one (``main.py:86-95``) — `read_metadata`/`write_metadata` are the
  two sides of that compare.

Driver-side json (metadata is one small document — a DataFrame would be
ceremony), matching the reference's design.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from statline_bq_spark.functions.cleaning import clean_description


def metadata_file_name(source: str, odata_version: str, dataset_id: str, suffix: str = "Metadata") -> str:
    """``{source}.{vN}.{id}_{suffix}.json`` (reference ``utils.py:77-86``)."""
    return f"{source}.{odata_version}.{dataset_id}_{suffix}.json"


def write_metadata(
    metadata: dict,
    out_dir: str,
    source: str,
    odata_version: str,
    dataset_id: str,
    *,
    suffix: str = "Metadata",
) -> str:
    path = os.path.join(out_dir, metadata_file_name(source, odata_version, dataset_id, suffix))
    if "://" in out_dir:
        # URI storage roots (gs://, s3://, file://) — the side files must
        # land NEXT TO the parquet (reference S14/S23 put them in the GCS
        # folder, gcpl.py:170-229). pyarrow.fs resolves the scheme to the
        # same object-store backends the Hadoop connector uses for the
        # parquet itself, so one storage_root serves both.
        import io as _io

        import pyarrow.fs as pafs

        fs, dir_p = pafs.FileSystem.from_uri(out_dir)
        fs.create_dir(dir_p, recursive=True)
        file_p = f"{dir_p}/{os.path.basename(path)}"
        with fs.open_output_stream(file_p) as raw:
            raw.write(
                json.dumps(metadata, ensure_ascii=False, indent=1).encode(
                    "utf-8"
                )
            )
        return path
    os.makedirs(out_dir, exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(metadata, f, ensure_ascii=False, indent=1)
    return path


def read_metadata(path: str) -> dict | None:
    if "://" in path:
        import pyarrow.fs as pafs

        fs, p = pafs.FileSystem.from_uri(path)
        info = fs.get_file_info(p)
        if info.type == pafs.FileType.NotFound:
            return None
        with fs.open_input_stream(p) as raw:
            return json.loads(raw.read().decode("utf-8"))
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def column_descriptions_df(
    data_properties: DataFrame,
    *,
    key_col: str = "Key",
    desc_col: str = "Description",
    max_chars: int = 1024,
) -> DataFrame:
    """DataProperties → (Key, Description) with the reference's cleanse +
    truncate (S13) applied as column expressions."""
    return data_properties.select(
        F.col(key_col).alias("Key"),
        clean_description(desc_col, max_chars).alias("Description"),
    ).filter(F.col("Key").isNotNull())


def modified_changed(cbs_metadata: dict | None, stored_metadata: dict | None) -> bool:
    """The incremental-load decision (reference S19, ``main.py:86-95``):
    process iff no stored snapshot or the Modified stamps differ."""
    if stored_metadata is None or cbs_metadata is None:
        return True
    return cbs_metadata.get("Modified") != stored_metadata.get("Modified")

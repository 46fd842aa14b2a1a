"""Catalog layer: external-table registration and idempotent namespace
(re)creation over the Spark SQL catalog.

Spark-first rendition of the reference's BigQuery layer (``gcpl.py``):

- S20 dataset delete+create  (``gcpl.py:339-393,432-469,549-573``):
  `DROP DATABASE ... CASCADE` + `CREATE DATABASE` — idempotent overwrite.
- S21 external tables        (``gcpl.py:472-603``): per parquet dataset,
  `CREATE TABLE ... (<cols>) USING PARQUET LOCATION ...` — zero-copy,
  exactly like BigQuery external tables over GCS
  (``ExternalConfig("PARQUET")``, ``gcpl.py:592-596``). The columns are
  declared from the schema the table was landed with, so Spark does not
  re-infer it from the Parquet footers.
- S22 column descriptions    (``gcpl.py:232-288``): column comments of the
  main table, declared in its CREATE statement; ``patch_column_descriptions``
  adds them to an already-registered table via ALTER TABLE ... ALTER COLUMN.

Namespace naming follows the reference: ``{source}_{vN}_{id}``
(``gcpl.py:549-556``); table ids are the third dot-segment of the file name
``{source}.{vN}.{id}_{table}`` (``gcpl.py:589``).

Every identifier goes into the SQL text backtick-quoted and every string
(comments, locations) as a literal built by ``sqltext.sql_literal``.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from statline_bq_spark.functions.cleaning import DESCRIPTION_MAX_CHARS
from statline_bq_spark.sqltext import sql_literal


def namespace_name(source: str, odata_version: str, dataset_id: str) -> str:
    return f"{source}_{odata_version}_{dataset_id}"


def table_id_from_file_name(file_name: str) -> str:
    """``{source}.{vN}.{id}_{table}`` → ``{id}_{table}`` (reference
    ``gcpl.py:589``: ``str(name).split(".")[2]``)."""
    return file_name.split(".")[2]


def recreate_namespace(
    spark: SparkSession, namespace: str, *, description: str | None = None
) -> None:
    """Idempotent drop-cascade + create (reference S20)."""
    spark.sql(f"DROP DATABASE IF EXISTS {_ident(namespace)} CASCADE")
    comment = f" COMMENT {sql_literal(description)}" if description else ""
    spark.sql(f"CREATE DATABASE {_ident(namespace)}{comment}")


def register_external_table(
    spark: SparkSession,
    namespace: str,
    table: str,
    parquet_path: str,
    schema: StructType,
    *,
    comments: Mapping[str, str] | None = None,
) -> None:
    """Zero-copy external table over an existing Parquet dataset
    (reference S21), declared with ``schema``; ``comments`` maps column →
    already-cleaned comment."""
    comments = comments or {}
    cols = ", ".join(
        f"{_ident(f.name)} {_type_sql(f.dataType)}"
        + (f" COMMENT {sql_literal(comments[f.name])}" if f.name in comments else "")
        for f in schema.fields
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {_ident(namespace)}.{_ident(table)} ({cols}) "
        f"USING PARQUET LOCATION {sql_literal(parquet_path)}"
    )


def register_dataset_tables(
    spark: SparkSession,
    namespace: str,
    files: dict[str, str],
    schemas: Mapping[str, StructType],
    *,
    description: str | None = None,
    column_descriptions: Mapping[str, str | None] | None = None,
) -> list[str]:
    """Register every ``{file_name: parquet_path}`` under a freshly
    recreated namespace; returns the registered table names (reference
    orchestration ``gcpl.py:549-603``).

    ``schemas`` maps file name → the schema the table was landed with. The
    first ``*_TypedDataSet`` table (the main table, reference S22) carries
    ``column_descriptions`` as column comments. One SQL statement per
    table, plus two for the namespace.
    """
    recreate_namespace(spark, namespace, description=description)
    tables = {f: table_id_from_file_name(f) for f in sorted(files)}
    main = next((t for t in tables.values() if t.endswith("_TypedDataSet")), None)
    for file_name, table in tables.items():
        schema = schemas[file_name]
        comments = None
        if table == main:
            comments = _column_comments(schema.names, column_descriptions or {})
        register_external_table(
            spark, namespace, table, files[file_name], schema, comments=comments
        )
    return list(tables.values())


def patch_column_descriptions(
    spark: SparkSession,
    namespace: str,
    table: str,
    descriptions: Mapping[str, str | None],
    *,
    max_chars: int = DESCRIPTION_MAX_CHARS,
) -> int:
    """Comment each column of an already-registered table with its
    (truncated) description — reference S22 (``gcpl.py:232-288``).
    Returns #columns patched."""
    name = f"{_ident(namespace)}.{_ident(table)}"
    comments = _column_comments(spark.table(name).schema.names, descriptions, max_chars)
    for col, comment in comments.items():
        spark.sql(
            f"ALTER TABLE {name} ALTER COLUMN {_ident(col)} COMMENT {sql_literal(comment)}"
        )
    return len(comments)


def _column_comments(
    columns: Iterable[str],
    descriptions: Mapping[str, str | None],
    max_chars: int = DESCRIPTION_MAX_CHARS,
) -> dict[str, str]:
    """Column → comment for the columns that have a description: CR/LF
    stripped, cut to ``max_chars - 1`` chars ending in ``...`` when longer
    than ``max_chars`` (the 1024-char cap of S13, ``statline.py:369-374``).
    Descriptions of absent columns and ``None`` descriptions are dropped."""
    cols = set(columns)
    out = {}
    for col, desc in descriptions.items():
        if col not in cols or desc is None:
            continue
        clean = desc.replace("\n", "").replace("\r", "")
        if len(clean) > max_chars:
            clean = clean[: max_chars - 4] + "..."
        out[col] = clean
    return out


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _type_sql(dt: DataType) -> str:
    """SQL text of a column type with nested field names quoted. Nullability
    is left out: Parquet reads every column back as nullable."""
    if isinstance(dt, StructType):
        fields = ", ".join(f"{_ident(f.name)}: {_type_sql(f.dataType)}" for f in dt.fields)
        return f"STRUCT<{fields}>"
    if isinstance(dt, ArrayType):
        return f"ARRAY<{_type_sql(dt.elementType)}>"
    if isinstance(dt, MapType):
        return f"MAP<{_type_sql(dt.keyType)}, {_type_sql(dt.valueType)}>"
    return dt.simpleString()

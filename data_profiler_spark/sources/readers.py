"""Source readers — SURVEY §2.1.

Mirrors the reference's ``_get_reader_fn`` / ``guess_reader_method_from_path``
(/root/reference/src/data_profiler/execution_engine/sparkdf_execution_engine.py:319-368)
as a plain registry over ``spark.read``. Iceberg/Delta resolve through the
catalog when their jars are present; otherwise raise a clear error (the
sandbox image ships neither — see pyspark guide).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

_EXTENSION_MAP = {
    ".csv": "csv",
    ".tsv": "csv",
    ".parquet": "parquet",
    ".pqt": "parquet",
    ".json": "json",
    ".jsonl": "json",
    ".orc": "orc",
    ".avro": "avro",
    ".txt": "text",
}


def guess_format_from_path(path: str) -> str:
    for ext, fmt in _EXTENSION_MAP.items():
        if path.endswith(ext):
            return fmt
    raise ValueError(f"cannot guess reader format for path {path!r}")


def read_path(
    spark: SparkSession,
    path: str,
    format: str | None = None,
    schema: Any = None,
    **options: Any,
) -> DataFrame:
    fmt = format or guess_format_from_path(path)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        if path.endswith(".tsv"):
            options.setdefault("sep", "\t")
    return reader.format(fmt).options(**options).load(path)


def read_table(spark: SparkSession, table: str, snapshot_id: str | None = None) -> DataFrame:
    """Catalog table read (Iceberg/Delta/Hive — whatever the session's
    catalog provides). ``snapshot_id`` pins an Iceberg snapshot for
    reproducible validation runs (lineage key in the results store)."""
    if snapshot_id is not None:
        return spark.read.option("snapshot-id", snapshot_id).table(table)
    return spark.read.table(table)

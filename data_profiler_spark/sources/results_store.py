"""Results table: verdicts + lineage + violation samples, keyed for resume.

The Spark-native replacement for the reference's ValidationsStore /
MetricStore (data_context/store/validations_store.py:27, metric_store.py:16,
actions.py:671-866): instead of a filesystem/S3 tuple store of JSON blobs,
verdict rows land in an append-only parquet (Iceberg/Delta in production —
same API) table keyed

    (run_id, suite_fingerprint, snapshot_id, partition_id, constraint_id)

On re-submission the runner anti-joins planned partitions against completed
ones and skips them (FIXTURES.md §5 resumability contract). A partition is
"completed" when its sentinel row (constraint_id = '__partition_done__') is
present — written LAST, after all verdict rows, so a crash mid-partition
re-runs that partition.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DONE_SENTINEL = "__partition_done__"


def _pa_type(dt: T.DataType):
    import pyarrow as pa

    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.DoubleType):
        return pa.list_(pa.float64())
    raise TypeError(dt.simpleString())


def arrow_append_rows(
    path: str,
    rows: list[tuple],
    schema: "T.StructType",
    mode: str = "append",
) -> bool:
    """Driver-side parquet write for BOUNDED metadata rows (store appends
    are a handful of verdict/sketch rows that already live at the driver).
    A Spark write job — even repartition(1) — costs ~0.3-0.5 s of
    scheduling/commit per append; writing the part file directly with
    pyarrow is milliseconds and reads back identically (plain parquet,
    flat types + array<double>). Returns False when the schema has a type
    this mapping doesn't cover, so callers fall back to the Spark write;
    any other failure raises. Only for driver-resident metadata — never
    for data-scale rows.

    Crash safety: the part file is written under a ``.``-prefixed name,
    which Spark's file listing skips, and renamed into place, so a crash
    mid-write leaves no partial part file. An overwrite deletes the old
    parts only after the new one is in place: a crash in between leaves
    the old parts next to the new one, never an empty store."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        pa_schema = pa.schema(
            [(f.name, _pa_type(f.dataType)) for f in schema.fields]
        )
    except TypeError:
        return False
    cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=t.type) for c, t in zip(cols, pa_schema)],
        schema=pa_schema,
    )
    os.makedirs(path, exist_ok=True)
    old = os.listdir(path) if mode == "overwrite" else []
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + name)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, name))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    for entry in old:
        p = os.path.join(path, entry)
        if os.path.isdir(p):
            shutil.rmtree(p)
        else:
            os.remove(p)
    return True


def read_parquet_or_empty(
    spark: SparkSession, path: str, schema: "T.StructType"
) -> DataFrame:
    """The parquet store at ``path``, or an empty frame when the path does
    not exist yet (a store's first run). Any other failure raises: a store
    that cannot be read must not look empty, or a resume would redo every
    partition and append duplicate verdicts."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return spark.createDataFrame([], schema)
        raise


RESULT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("suite_fingerprint", T.StringType()),
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("partition_id", T.StringType()),
        T.StructField("constraint_id", T.StringType()),
        T.StructField("constraint_type", T.StringType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("element_count", T.LongType()),
        T.StructField("unexpected_count", T.LongType()),
        T.StructField("observed_json", T.StringType()),
        T.StructField("exception_info", T.StringType()),
        T.StructField("group_json", T.StringType()),
        T.StructField("violations_json", T.StringType()),
        T.StructField("started_at_ms", T.LongType()),
        T.StructField("finished_at_ms", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


class ResultsStore:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    # ------------------------------------------------------------------
    def read(self) -> DataFrame:
        return read_parquet_or_empty(self.spark, self.path, RESULT_SCHEMA)

    def append_rows(self, rows: list[dict[str, Any]]) -> None:
        if not rows:
            return
        tuples = [
            tuple(r.get(f.name) for f in RESULT_SCHEMA.fields) for r in rows
        ]
        # driver-side pyarrow append (r7): the rows are already at the
        # driver and bounded; a Spark write job costs ~0.3-0.5 s of
        # scheduling/commit for the same single part file
        if arrow_append_rows(self.path, tuples, RESULT_SCHEMA, "append"):
            return
        df = self.spark.createDataFrame(tuples, RESULT_SCHEMA)
        # repartition(1), NOT coalesce(1): coalescing a python-local
        # relation folds every default-parallelism slice into one task
        # that re-enters the Python runner per slice (~5 s for a handful
        # of rows at local[32], measured round 6); the 1-partition shuffle
        # is ~10x cheaper and writes the same single file per append
        df.repartition(1).write.mode("append").parquet(self.path)

    # ------------------------------------------------------------------
    def completed_partitions(self, suite_fingerprint: str, snapshot_id: str) -> set[str]:
        df = self.read()
        rows = (
            df.where(
                (F.col("suite_fingerprint") == suite_fingerprint)
                & (F.col("snapshot_id") == snapshot_id)
                & (F.col("constraint_id") == DONE_SENTINEL)
            )
            .select("partition_id")
            .distinct()
            .collect()
        )
        return {r["partition_id"] for r in rows}

    def mark_done(
        self,
        run_id: str,
        suite_fingerprint: str,
        snapshot_id: str,
        partition_ids: list[str],
        lineage: dict[str, Any] | None = None,
    ) -> None:
        now = int(time.time() * 1000)
        self.append_rows(
            [
                {
                    "run_id": run_id,
                    "suite_fingerprint": suite_fingerprint,
                    "snapshot_id": snapshot_id,
                    "partition_id": pid,
                    "constraint_id": DONE_SENTINEL,
                    "constraint_type": DONE_SENTINEL,
                    "success": True,
                    "observed_json": json.dumps(lineage or {}, default=str),
                    "started_at_ms": now,
                    "finished_at_ms": now,
                    "duration_ms": 0,
                }
                for pid in partition_ids
            ]
        )

    def verdicts(
        self, suite_fingerprint: str, snapshot_id: str | None = None
    ) -> DataFrame:
        df = self.read().where(
            (F.col("suite_fingerprint") == suite_fingerprint)
            & (F.col("constraint_id") != DONE_SENTINEL)
        )
        if snapshot_id is not None:
            df = df.where(F.col("snapshot_id") == snapshot_id)
        return df

    # ------------------------------------------------------------------
    def evaluation_parameters(
        self,
        suite_fingerprint: str,
        run_id: str | None = None,
        snapshot_id: str | None = None,
    ) -> dict[str, Any]:
        """URN-style evaluation parameters from stored verdicts — the
        Spark-native form of the reference's
        ``urn:data_profiler:validations:<suite>:<metric>`` resolution
        (core/evaluation_parameters.py:98-132, core/urn.py): downstream
        suites pin thresholds to a PRIOR run's observed results via
        ``{"$PARAMETER": "urn:validations:<constraint_id>:<field>"}``.

        For the latest run (by started_at_ms; or an explicit ``run_id``)
        every verdict row contributes observed_value / element_count /
        unexpected_count / success under the constraint's stable
        fingerprint id; grouped runs get a ``:<group_json>`` suffix per
        group. The collect is bounded by one suite's verdict rows for one
        run — never the whole store."""
        import json as _json

        df = self.verdicts(suite_fingerprint, snapshot_id)
        if run_id is None:
            row = df.agg(F.max_by("run_id", "started_at_ms").alias("r")).first()
            run_id = row["r"] if row else None
            if run_id is None:
                return {}
        params: dict[str, Any] = {}
        for r in df.where(F.col("run_id") == run_id).collect():
            obs = _json.loads(r["observed_json"] or "{}")
            group = r["group_json"]
            suffix = "" if group in (None, "", "{}") else f":{group}"
            base = f"urn:validations:{r['constraint_id']}"
            params[f"{base}:observed_value{suffix}"] = obs.get("observed_value")
            params[f"{base}:element_count{suffix}"] = r["element_count"]
            params[f"{base}:unexpected_count{suffix}"] = r["unexpected_count"]
            params[f"{base}:success{suffix}"] = bool(r["success"])
        return params

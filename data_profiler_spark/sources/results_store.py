"""Results table: verdicts + lineage + violation samples, keyed for resume.

The Spark-native replacement for the reference's ValidationsStore /
MetricStore (data_context/store/validations_store.py:27, metric_store.py:16,
actions.py:671-866): instead of a filesystem/S3 tuple store of JSON blobs,
verdict rows land in an append-only parquet (Iceberg/Delta in production —
same API) table keyed

    (run_id, suite_fingerprint, snapshot_id, partition_id, constraint_id)

On re-submission the runner reads the completed partitions
(``completed_partitions``, on the driver) and validates only the rows of
the others (FIXTURES.md §5 resumability contract). A partition is
"completed" when its sentinel row (constraint_id = '__partition_done__') is
present. A chunk's verdict rows and its sentinels are ONE part file, renamed
into place in one step (one append commit in production), so a crash
leaves either the whole chunk or none of it, and a resume re-runs exactly
the partitions with no sentinel.

Stores written before verdicts and sentinels shared a part file may hold
orphan verdict sets: rows from a ``run_id`` that has no sentinel for that
partition, left by a crash between the two files. ``verdicts()`` returns
them as written; so does a store that a caller appends verdicts to without
sentinels (``urn_cross_suite_verdicts`` in queries.py).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_profiler_spark.core.session import arrow_schema, arrow_table, local_frame

DONE_SENTINEL = "__partition_done__"


def _fsync(path: str) -> None:
    """Flush ``path`` (a file, or a directory's entries) to the disk."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def arrow_append_rows(
    path: str,
    rows: list[tuple],
    schema: "T.StructType",
    mode: str = "append",
) -> str:
    """Driver-side parquet write for BOUNDED metadata rows (store appends
    are a handful of verdict/sketch rows that already live at the driver).
    A Spark write job costs ~0.3-0.5 s of scheduling/commit per append;
    writing the part file directly with pyarrow is milliseconds and reads
    back identically (plain parquet, converted by :func:`arrow_table`, as
    ``local_frame`` converts). Returns the path of the committed part file.
    A schema field whose type Arrow does not map raises ``TypeError``
    naming the field. Only for driver-resident metadata — never for
    data-scale rows.

    Crash safety: the part file is written under a ``.``-prefixed name,
    which Spark's file listing skips, and renamed into place, so a crash
    mid-write leaves no partial part file and all of ``rows`` commit in
    one ``os.replace``. The part file is fsynced before the rename and the
    directory after it, so a commit that returned survives a power loss.
    An overwrite deletes the old parts only after the new one is in place:
    a crash in between leaves the old parts next to the new one, never an
    empty store."""
    import pyarrow.parquet as pq

    table = arrow_table(rows, schema)
    os.makedirs(path, exist_ok=True)
    old = os.listdir(path) if mode == "overwrite" else []
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + name)
    try:
        pq.write_table(table, tmp)
        _fsync(tmp)
        os.replace(tmp, os.path.join(path, name))
        _fsync(path)
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
    return os.path.join(path, name)


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
            return local_frame(spark, [], schema)
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
        """Append ``rows`` as one part file: they commit together or not
        at all."""
        if not rows:
            return
        arrow_append_rows(
            self.path,
            [tuple(r.get(f.name) for f in RESULT_SCHEMA.fields) for r in rows],
            RESULT_SCHEMA,
        )

    # ------------------------------------------------------------------
    def completed_partitions(self, suite_fingerprint: str, snapshot_id: str) -> set[str]:
        """The partitions with a sentinel for this suite and snapshot.

        Read on the driver with pyarrow, so no Spark job runs. Files are
        listed as Spark lists them: a ``.``/``_``-prefixed name is hidden,
        so a staged part file is invisible. The store schema is passed
        explicitly, so a store with no visible file reads as empty. A
        missing path is an empty store; a part file that cannot be read
        raises, as it does for Spark."""
        import pyarrow.dataset as ds

        if not os.path.exists(self.path):
            return set()
        done = ds.dataset(
            self.path, schema=arrow_schema(RESULT_SCHEMA), format="parquet",
            ignore_prefixes=[".", "_"],
        ).to_table(
            columns=["partition_id"],
            filter=(ds.field("suite_fingerprint") == suite_fingerprint)
            & (ds.field("snapshot_id") == snapshot_id)
            & (ds.field("constraint_id") == DONE_SENTINEL),
        )
        return set(done.column("partition_id").to_pylist())

    def mark_done(
        self,
        run_id: str,
        suite_fingerprint: str,
        snapshot_id: str,
        partition_ids: list[str],
        lineage: dict[str, Any] | None = None,
        verdicts: Iterable[dict[str, Any]] = (),
    ) -> None:
        """Commit ``partition_ids`` as completed: the ``verdicts`` rows
        and one sentinel per partition, in ONE append, so the partitions'
        verdicts are stored if and only if their sentinels are."""
        now = int(time.time() * 1000)
        sentinel = {
            "run_id": run_id,
            "suite_fingerprint": suite_fingerprint,
            "snapshot_id": snapshot_id,
            "constraint_id": DONE_SENTINEL,
            "constraint_type": DONE_SENTINEL,
            "success": True,
            "observed_json": json.dumps(lineage or {}, default=str),
            "started_at_ms": now,
            "finished_at_ms": now,
            "duration_ms": 0,
        }
        self.append_rows(
            [*verdicts, *({**sentinel, "partition_id": p} for p in partition_ids)]
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
        df = self.verdicts(suite_fingerprint, snapshot_id)
        if run_id is None:
            row = df.agg(F.max_by("run_id", "started_at_ms").alias("r")).first()
            run_id = row["r"] if row else None
            if run_id is None:
                return {}
        params: dict[str, Any] = {}
        for r in df.where(F.col("run_id") == run_id).collect():
            obs = json.loads(r["observed_json"] or "{}")
            group = r["group_json"]
            suffix = "" if group in (None, "", "{}") else f":{group}"
            base = f"urn:validations:{r['constraint_id']}"
            params[f"{base}:observed_value{suffix}"] = obs.get("observed_value")
            params[f"{base}:element_count{suffix}"] = r["element_count"]
            params[f"{base}:unexpected_count{suffix}"] = r["unexpected_count"]
            params[f"{base}:success{suffix}"] = bool(r["success"])
        return params

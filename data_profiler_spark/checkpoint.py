"""Resumable checkpoint runner — the production entry point.

The Spark-first rebuild of Checkpoint.run (reference
checkpoint/checkpoint.py:211-338): given a table, a suite, and a partition
column, validate every partition, write per-partition verdicts + violation
samples + lineage to the results store, and SKIP partitions a previous run
already completed.

Physical plan: a run makes ONE validation pass over every pending
partition, not a per-partition filter loop (that would rescan the table P
times) and not a pass per chunk (a computed partition column such as
``add_partition_column``'s hash bucket cannot prune the scan, so every
chunk would decode the whole table to keep its slice). No job lists the
partitions first: the done set is read from the store on the driver, the
pass validates the rows ``partition_col IS NULL OR NOT IN (done)``, and
the pending partitions are the groups the pass finds. The predicate
compares values in the column's own type, so a Hive-style partitioned
path prunes to the pending partitions (a rerun with every partition done
reads no data file), and parquet row-group statistics and DSv2 pushdown
can use it on a flat column. On a flat column a fully-done rerun still
runs the pass over rows it then filters out. Rows with a NULL partition
value reach the pass and fail the run before anything is stored.

The pass is one fused aggregation grouped by the partition column, the
bounded post-pass jobs, and one violation-sampling job over every failed
constraint, which plans from the duplicate and orphan keys the uniqueness
and referential post passes kept instead of searching again; they are
released before the run returns. Results are then committed per
CHUNK of ``chunk_size`` partitions, each chunk's verdict rows and
sentinels in one store append (``ResultsStore.mark_done``), so a crash
during the commits loses at most the uncommitted chunks and never leaves
a chunk's verdicts without its sentinels; a crash before the first
commit loses the pass.

Scale notes: the pass groups by the partition column, so Spark's hash
aggregation distributes naturally; violation samples are capped per
(constraint, partition) with deterministic ordering, and group-scoped
uniqueness samples find duplicates within a partition, so a partition's
stored samples do not depend on chunking or resume history
(FIXTURES.md §5).
"""

from __future__ import annotations

import datetime
import decimal
import json
import time
import uuid
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_profiler_spark.core.result import ConstraintResult, SuiteResult
from data_profiler_spark.core.suite import ConstraintSuite
from data_profiler_spark.sources.results_store import ResultsStore
from data_profiler_spark.validator import Validator


# A store key is ``str(value)``; these invert it per partition column type.
_FROM_KEY: dict[type, Callable[[str], Any]] = {
    T.StringType: str,
    T.ByteType: int,
    T.ShortType: int,
    T.IntegerType: int,
    T.LongType: int,
    T.FloatType: float,
    T.DoubleType: float,
    T.DecimalType: decimal.Decimal,
    T.BooleanType: {"True": True, "False": False}.__getitem__,
    T.DateType: datetime.date.fromisoformat,
    T.TimestampType: datetime.datetime.fromisoformat,
    T.TimestampNTZType: datetime.datetime.fromisoformat,
}


def _native_values(keys: set[str], dtype: T.DataType) -> list[Any]:
    """The values of type ``dtype`` whose store keys are ``keys``. A key
    that names no such value is dropped: it cannot match a row, and a NULL
    in a ``NOT IN`` list would filter out every row."""
    if not keys:
        return []
    if type(dtype) not in _FROM_KEY:
        raise TypeError(
            f"a partition column of type {dtype.simpleString()} cannot be resumed"
        )
    out = []
    for key in sorted(keys):
        try:
            value = _FROM_KEY[type(dtype)](key)
        except (ValueError, KeyError, decimal.InvalidOperation):
            continue
        if str(value) == key:
            out.append(value)
    return out


def _by_partition(
    suite_result: SuiteResult, partition_col: str
) -> dict[str, list[ConstraintResult]]:
    """The pass's results by store key. A NULL partition value raises
    before anything is stored: it has no key a resume could skip, so a
    sentinel for it would mark rows done that were never checked."""
    by_key: dict[Any, list[ConstraintResult]] = {}
    for r in suite_result.results:
        by_key.setdefault(r.group[partition_col], []).append(r)
    if None in by_key:
        counts = [r.element_count for r in by_key[None] if r.element_count is not None]
        raise ValueError(
            f"{max(counts) if counts else 'some'} rows have a NULL partition "
            f"column {partition_col!r}; they cannot be validated as a partition"
        )
    return {str(k): rs for k, rs in by_key.items()}


@dataclass
class CheckpointReport:
    """``skipped_partitions`` is the store's done set for the suite and
    snapshot, ``validated_partitions`` the groups the pass found, and
    ``planned_partitions`` their union. No job lists the table's
    partitions, so a done partition the table no longer holds is still
    reported as skipped."""

    run_id: str
    planned_partitions: list[str]
    skipped_partitions: list[str]
    validated_partitions: list[str]
    n_constraints: int
    duration_ms: int


class CheckpointRunner:
    def __init__(
        self,
        store: ResultsStore,
        violation_limit: int = 20,
        chunk_size: int = 64,
    ) -> None:
        self.store = store
        self.violation_limit = violation_limit
        self.chunk_size = chunk_size

    def run(
        self,
        df: DataFrame,
        suite: ConstraintSuite,
        partition_col: str,
        snapshot_id: str = "",
        run_id: str | None = None,
        tables: dict[str, DataFrame] | None = None,
        violation_key_columns: list[str] | None = None,
    ) -> CheckpointReport:
        t_start = time.time()
        run_id = run_id or uuid.uuid4().hex[:12]
        fp = suite.fingerprint

        done = self.store.completed_partitions(fp, snapshot_id)
        # store keys are str(value); the predicate compares native values.
        # NULL partition values pass it, so they reach the check below.
        done_values = _native_values(done, df.schema[partition_col].dataType)
        if done_values:
            col = F.col(partition_col)
            df = df.where(col.isNull() | ~col.isin(done_values))

        t_pass = time.time()
        v = Validator(df, tables=tables)
        suite_result = v.validate(suite, group_by=[partition_col], keep_violations=True)
        try:
            by_part = _by_partition(suite_result, partition_col)
            sampled = self._samples(v, suite_result, partition_col, violation_key_columns)
        finally:
            suite_result.plan.release()
        # a verdict row's times are those of the pass that produced it
        pass_start_ms = int(t_pass * 1000)
        pass_ms = int((time.time() - t_pass) * 1000)

        pending = sorted(by_part)
        validated: list[str] = []
        for i in range(0, len(pending), self.chunk_size):
            chunk = pending[i : i + self.chunk_size]
            rows = []
            per_part_rowcount: dict[str, int] = {}
            for pid in chunk:
                for r in by_part[pid]:
                    if r.element_count is not None:
                        per_part_rowcount[pid] = r.element_count
                    rows.append(
                        {
                            **r.to_row(),
                            "run_id": run_id,
                            "suite_fingerprint": fp,
                            "snapshot_id": snapshot_id,
                            "partition_id": pid,
                            "violations_json": json.dumps(
                                sampled.get((r.constraint_id, pid), []),
                                default=str,
                            ),
                            "started_at_ms": pass_start_ms,
                            "finished_at_ms": pass_start_ms + pass_ms,
                            "duration_ms": pass_ms,
                        }
                    )
            self.store.mark_done(
                run_id, fp, snapshot_id, chunk,
                lineage={
                    "snapshot_id": snapshot_id,
                    "partition_col": partition_col,
                    "row_counts": per_part_rowcount,
                    "pass_duration_ms": pass_ms,
                },
                verdicts=rows,
            )
            validated.extend(chunk)

        return CheckpointReport(
            run_id=run_id,
            planned_partitions=sorted(done.union(pending)),
            skipped_partitions=sorted(done),
            validated_partitions=validated,
            n_constraints=len(suite.constraints),
            duration_ms=int((time.time() - t_start) * 1000),
        )

    def _samples(
        self,
        v: Validator,
        suite_result: SuiteResult,
        partition_col: str,
        violation_key_columns: list[str] | None,
    ) -> dict[tuple[str, str], list[dict[str, Any]]]:
        """Violation samples of the failed constraints, keyed by
        (constraint_id, partition), at most ``violation_limit`` each, from
        one Spark job."""
        udf = v.violation_samples_unioned(
            suite_result, self.violation_limit, violation_key_columns or None
        )
        sampled: dict[tuple[str, str], list[dict[str, Any]]] = {}
        if udf is None:
            return sampled
        tag = udf.columns[0]
        for row in udf.collect():
            d = row.asDict(recursive=True)
            cid = d.pop(tag)
            sampled.setdefault((cid, str(d.get(partition_col))), []).append(d)
        return sampled

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
chunk would decode the whole table to keep its slice). The pass is one
fused aggregation grouped by the partition column, the bounded post-pass
jobs, and violation sampling (one job when the samples share key columns,
else one per failed constraint). Results are then committed per CHUNK of
``chunk_size`` partitions, verdict rows first and the sentinel last, so a
crash during the commits loses at most the uncommitted chunks; a crash
before the first commit loses the pass. The partition predicate compares
values in the column's own type, so a Hive-style partitioned path prunes
to the pending partitions, and parquet row-group statistics and DSv2
pushdown can use it on a flat column.

Scale notes: the pass groups by the partition column, so Spark's hash
aggregation distributes naturally; violation samples are capped per
(constraint, partition) with deterministic ordering, and group-scoped
uniqueness samples find duplicates within a partition, so a partition's
stored samples do not depend on chunking or resume history
(FIXTURES.md §5).
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_spark.core.result import SuiteResult
from data_profiler_spark.core.suite import ConstraintSuite
from data_profiler_spark.sources.results_store import ResultsStore
from data_profiler_spark.validator import Validator


@dataclass
class CheckpointReport:
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

        # store keys are strings; the predicate uses the native values
        planned = {
            str(r[0]): r[0] for r in df.select(partition_col).distinct().collect()
        }
        done = self.store.completed_partitions(fp, snapshot_id)
        pending = sorted(p for p in planned if p not in done)
        skipped = sorted(p for p in planned if p in done)

        validated: list[str] = []
        if pending:
            t_pass = time.time()
            v = Validator(
                df.where(F.col(partition_col).isin([planned[p] for p in pending])),
                tables=tables,
            )
            suite_result = v.validate(suite, group_by=[partition_col])
            sampled = self._samples(
                v, suite, suite_result, partition_col, violation_key_columns
            )
            # a verdict row's times are those of the pass that produced it
            pass_start_ms = int(t_pass * 1000)
            pass_ms = int((time.time() - t_pass) * 1000)
            by_part: dict[str, list] = {}
            for r in suite_result.results:
                by_part.setdefault(str(r.group.get(partition_col)), []).append(r)

            for i in range(0, len(pending), self.chunk_size):
                chunk = pending[i : i + self.chunk_size]
                rows = []
                per_part_rowcount: dict[str, int] = {}
                for pid in chunk:
                    for r in by_part.get(pid, []):
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
                self.store.append_rows(rows)
                # sentinel LAST: a crash before this point re-runs the chunk
                self.store.mark_done(
                    run_id, fp, snapshot_id, chunk,
                    lineage={
                        "snapshot_id": snapshot_id,
                        "partition_col": partition_col,
                        "row_counts": per_part_rowcount,
                        "pass_duration_ms": pass_ms,
                    },
                )
                validated.extend(chunk)

        return CheckpointReport(
            run_id=run_id,
            planned_partitions=sorted(planned),
            skipped_partitions=skipped,
            validated_partitions=validated,
            n_constraints=len(suite.constraints),
            duration_ms=int((time.time() - t_start) * 1000),
        )

    def _samples(
        self,
        v: Validator,
        suite: ConstraintSuite,
        suite_result: SuiteResult,
        partition_col: str,
        violation_key_columns: list[str] | None,
    ) -> dict[tuple[str, str], list[dict[str, Any]]]:
        """Violation samples of the failed constraints, keyed by
        (constraint_id, partition), at most ``violation_limit`` each."""
        found: list[tuple[str, dict[str, Any]]] = []
        if violation_key_columns:
            # shared schema -> ALL constraints' samples in one job
            # (violation_samples_unioned): 1 driver round-trip per run
            # instead of one per failed constraint
            udf = v.violation_samples_unioned(
                suite,
                limit=self.violation_limit,
                only_failed_of=suite_result,
                key_columns=[partition_col] + violation_key_columns,
                group_by=[partition_col],
            )
            for row in udf.collect() if udf is not None else []:
                d = row.asDict(recursive=True)
                found.append((d.pop("constraint_id"), d))
        else:
            samples = v.violation_samples(
                suite,
                limit=self.violation_limit,
                only_failed_of=suite_result,
                group_by=[partition_col],
            )
            for cid, sdf in samples.items():
                found.extend((cid, row.asDict(recursive=True)) for row in sdf.collect())
        sampled: dict[tuple[str, str], list[dict[str, Any]]] = {}
        for cid, d in found:
            sampled.setdefault((cid, str(d.get(partition_col))), []).append(d)
        return sampled

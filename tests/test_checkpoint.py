"""Resumability (FIXTURES.md §5): a partially-completed run resumes by
validating only missing partitions, and final verdicts match a from-scratch
run exactly."""

from __future__ import annotations

import pytest

from data_profiler_spark.checkpoint import CheckpointRunner
from data_profiler_spark.core.suite import ConstraintSuite
from data_profiler_spark.sources.results_store import ResultsStore
from data_profiler_spark.validator import Validator, add_partition_column


@pytest.fixture()
def suite():
    return (
        ConstraintSuite("ckpt")
        .add("expect_column_values_to_not_be_null", column="content", mostly=0.98)
        .add("expect_compound_columns_to_be_unique", column_list=["repo", "path", "commit"])
    )


def _verdict_key(r):
    return (r["partition_id"], r["constraint_id"])


def test_checkpoint_resume(spark, code_tables, suite, tmp_path):
    files, commits = code_tables
    dfp = add_partition_column(files, n_buckets=6, cols=["repo", "path"])

    # from-scratch reference run
    store_a = ResultsStore(spark, str(tmp_path / "a"))
    runner_a = CheckpointRunner(store_a, chunk_size=100)
    rep_a = runner_a.run(dfp, suite, partition_col="partition_id", snapshot_id="s1",
                         violation_key_columns=["repo", "path", "commit"])
    assert rep_a.skipped_partitions == []
    assert len(rep_a.validated_partitions) == 6

    # partial run: chunk_size=2 and a store pre-seeded with 4 done partitions
    store_b = ResultsStore(spark, str(tmp_path / "b"))
    runner_b = CheckpointRunner(store_b, chunk_size=2)
    first_four = sorted(rep_a.validated_partitions)[:4]
    # simulate a previous partial run by running only those partitions
    import pyspark.sql.functions as F

    partial_df = dfp.where(F.col("partition_id").cast("string").isin(first_four))
    rep_partial = runner_b.run(partial_df, suite, partition_col="partition_id", snapshot_id="s1",
                               violation_key_columns=["repo", "path", "commit"])
    assert sorted(rep_partial.validated_partitions) == first_four

    # resume on the FULL table: must skip the 4 done, validate the 2 missing
    rep_resume = runner_b.run(dfp, suite, partition_col="partition_id", snapshot_id="s1",
                              violation_key_columns=["repo", "path", "commit"])
    assert sorted(rep_resume.skipped_partitions) == first_four
    assert len(rep_resume.validated_partitions) == 2

    # final verdicts identical to the from-scratch run (incl. violation samples)
    va = {
        _verdict_key(r): r
        for r in store_a.verdicts(suite.fingerprint, "s1").collect()
    }
    vb = {
        _verdict_key(r): r
        for r in store_b.verdicts(suite.fingerprint, "s1").collect()
    }
    assert set(va) == set(vb)
    for k in va:
        assert va[k]["success"] == vb[k]["success"], k
        assert va[k]["unexpected_count"] == vb[k]["unexpected_count"], k
        assert va[k]["element_count"] == vb[k]["element_count"], k
        assert va[k]["violations_json"] == vb[k]["violations_json"], k


def test_rerun_is_noop(spark, code_tables, suite, tmp_path):
    files, _ = code_tables
    dfp = add_partition_column(files, n_buckets=4, cols=["repo", "path"])
    store = ResultsStore(spark, str(tmp_path / "c"))
    runner = CheckpointRunner(store, chunk_size=100)
    rep1 = runner.run(dfp, suite, partition_col="partition_id", snapshot_id="s2")
    rep2 = runner.run(dfp, suite, partition_col="partition_id", snapshot_id="s2")
    assert len(rep1.validated_partitions) == 4
    assert rep2.validated_partitions == []
    assert sorted(rep2.skipped_partitions) == sorted(rep1.validated_partitions)

    # a NEW snapshot invalidates nothing but requires fresh validation
    rep3 = runner.run(dfp, suite, partition_col="partition_id", snapshot_id="s3")
    assert len(rep3.validated_partitions) == 4


def test_violation_union_shares_one_cached_scan(spark, code_tables, suite):
    """VERDICT r4 #6: a pre-persisted source feeds every branch of the
    K-branch union from InMemoryTableScan (plan check). A non-persisted
    source is left uncached (each branch rescans only the columns it
    reads) and gives the same rows."""
    from pyspark import StorageLevel
    from data_profiler_spark.validator import Validator

    files, commits = code_tables
    dfp = add_partition_column(files, n_buckets=6, cols=["repo", "path"])
    keys = ["repo", "path", "commit"]

    # caller-persisted chunk (the checkpoint-runner shape): plan check
    dfp_cached = dfp.persist()
    try:
        v = Validator(dfp_cached, tables={"commits": commits})
        res = v.validate(suite, group_by=["partition_id"])
        uni = v.violation_samples_unioned(res, limit=20, key_columns=keys)
        if uni is not None:
            plan = uni._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan
            rows_cached = {
                (r["constraint_id"], tuple(r)[1:]) for r in uni.collect()
            }
    finally:
        dfp_cached.unpersist()

    # non-persisted source: not cached by the call
    v2 = Validator(dfp, tables={"commits": commits})
    res2 = v2.validate(suite, group_by=["partition_id"])
    uni2 = v2.violation_samples_unioned(res2, limit=20, key_columns=keys)
    assert dfp.storageLevel == StorageLevel.NONE
    if uni2 is not None:
        rows_auto = {
            (r["constraint_id"], tuple(r)[1:]) for r in uni2.collect()
        }
        assert rows_auto == rows_cached


def test_evaluation_parameters_from_store(spark, code_tables, tmp_path):
    """The URN flow: run suite A through the checkpoint runner, resolve
    its stored observed values as evaluation parameters, and pin a
    downstream suite's expectation to the prior run via $PARAMETER."""
    files, commits = code_tables
    store = ResultsStore(spark, str(tmp_path / "results"))
    suite_a = ConstraintSuite("upstream").add(
        "expect_table_row_count_to_be_between", min_value=0
    )
    df = add_partition_column(files, n_buckets=4, cols=["repo", "path"])
    CheckpointRunner(store).run(df, suite_a, partition_col="partition_id")

    params = store.evaluation_parameters(suite_a.fingerprint)
    cid = suite_a.constraints[0].id
    # grouped run: one observed row count per partition, keyed by group
    counts = {
        k: v for k, v in params.items()
        if k.startswith(f"urn:validations:{cid}:observed_value")
    }
    assert counts and sum(counts.values()) == files.count()
    assert all(
        params[k.replace(":observed_value", ":success")] for k in counts
    )

    # downstream: expect THIS run's total to equal the stored per-group
    # counts' sum, resolved via $PARAMETER at compile time
    from data_profiler_spark.validator import Validator

    total_key = "prior_total"
    suite_b = ConstraintSuite("downstream").add(
        "expect_table_row_count_to_equal", value={"$PARAMETER": total_key}
    )
    v = Validator(
        files, evaluation_parameters={total_key: sum(counts.values())}
    )
    res = v.validate(suite_b).results[0]
    assert res.success and res.observed_value == files.count()

    # explicit run_id selection returns the same parameters
    run_id = next(iter({
        r["run_id"] for r in store.read().select("run_id").collect()
    }))
    assert store.evaluation_parameters(suite_a.fingerprint, run_id=run_id) == params


def test_arrow_append_matches_spark_write(spark, tmp_path):
    """r7: the driver-side pyarrow store append must read back through
    Spark identically to the repartition(1) Spark write it replaced —
    same values, same schema, NULLs and array<double> included."""
    from data_profiler_spark.operators.profile_diff import PROFILE_SCHEMA
    from data_profiler_spark.sources.results_store import (
        RESULT_SCHEMA,
        arrow_append_rows,
    )

    row = {
        "run_id": "r1", "suite_fingerprint": "f", "snapshot_id": "",
        "partition_id": "all", "constraint_id": "c1",
        "constraint_type": "expect_x", "success": True,
        "element_count": 10, "unexpected_count": None,
        "observed_json": '{"v": 1}', "exception_info": None,
        "group_json": "{}", "violations_json": None,
        "started_at_ms": 123, "finished_at_ms": 456, "duration_ms": 333,
    }
    tuples = [tuple(row.get(f.name) for f in RESULT_SCHEMA.fields)]
    pa_path, sp_path = str(tmp_path / "pa"), str(tmp_path / "sp")
    assert arrow_append_rows(pa_path, tuples, RESULT_SCHEMA, "append")
    spark.createDataFrame(tuples, RESULT_SCHEMA).repartition(1).write.mode(
        "append"
    ).parquet(sp_path)
    a = spark.read.parquet(pa_path)
    b = spark.read.parquet(sp_path)
    assert a.schema == b.schema
    assert a.collect() == b.collect()

    prow = ("r1", "s", "", "{}", "col", 5, 0, 4, 1.0, 2.0, 1.5, 0.1,
            [0.1, 0.9], None, [1.0, 2.0], '{"a": 3}')
    assert arrow_append_rows(
        str(tmp_path / "pa2"), [prow], PROFILE_SCHEMA, "overwrite"
    )
    got = spark.read.parquet(str(tmp_path / "pa2")).collect()[0]
    assert got["quantiles"] == [0.1, 0.9] and got["hist_bins"] is None
    assert got["top_k_json"] == '{"a": 3}'


def test_store_round_trips_date_timestamp_decimal(spark, tmp_path):
    """A store schema with date, timestamp and decimal fields (NULLs
    included) reads back through the store's reader as the rows written
    and as a Spark write of the same rows reads. The store converts rows
    to Arrow as ``local_frame`` does."""
    import datetime
    from decimal import Decimal

    import pyspark.sql.types as T

    from data_profiler_spark.sources.results_store import (
        arrow_append_rows,
        read_parquet_or_empty,
    )

    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("day", T.DateType()),
        T.StructField("at", T.TimestampType()),
        T.StructField("amount", T.DecimalType(12, 2)),
    ])
    rows = [
        (1, datetime.date(2024, 2, 29), datetime.datetime(2024, 2, 29, 23, 59, 58, 123456),
         Decimal("1234567890.12")),
        (2, None, None, None),
        (3, datetime.date(1969, 12, 31), datetime.datetime(1970, 1, 1, 0, 0, 1),
         Decimal("-0.05")),
    ]
    path, sp_path = str(tmp_path / "pa"), str(tmp_path / "sp")
    assert arrow_append_rows(path, rows, schema)
    got = read_parquet_or_empty(spark, path, schema).orderBy("id").collect()
    assert [tuple(r) for r in got] == rows
    spark.createDataFrame(rows, schema).write.parquet(sp_path)
    assert spark.read.parquet(path).schema == spark.read.parquet(sp_path).schema
    with pytest.raises(ValueError, match="'id'"):
        arrow_append_rows(str(tmp_path / "null_id"), [(None, None, None, None)], schema)


def _many_violations(spark):
    """16 partitions of 30 rows, 10 of them with a NULL ``content``: more
    violations per chunk than any violation_limit below."""
    rows = [(i, i % 16, None if i % 3 == 0 else f"c{i}") for i in range(480)]
    return spark.createDataFrame(rows, "id long, p int, content string")


@pytest.mark.parametrize("keys", [None, ["id"]])
def test_violation_samples_independent_of_chunking(spark, tmp_path, keys):
    """A partition's stored samples are the same whatever the chunking or
    the resume history: the cap is per (constraint, partition), not per
    (constraint, chunk)."""
    import json

    import pyspark.sql.functions as F

    df = _many_violations(spark)
    suite = ConstraintSuite("samples").add(
        "expect_column_values_to_not_be_null", column="content"
    )

    def run(name, frames, chunk_size):
        store = ResultsStore(spark, str(tmp_path / name))
        runner = CheckpointRunner(store, violation_limit=3, chunk_size=chunk_size)
        for frame in frames:
            rep = runner.run(frame, suite, partition_col="p", snapshot_id="s",
                             violation_key_columns=keys)
        samples = {
            _verdict_key(r): r["violations_json"]
            for r in store.verdicts(suite.fingerprint, "s").collect()
        }
        return samples, rep

    whole, _ = run("whole", [df], 64)
    assert len(whole) == 16
    assert all(len(json.loads(v)) == 3 for v in whole.values())
    assert run("by8", [df], 8)[0] == whole
    resumed, rep = run("resumed", [df.where(F.col("p") < 5), df], 8)
    assert sorted(rep.skipped_partitions, key=int) == [str(p) for p in range(5)]
    assert resumed == whole

    if keys:
        # a Hive-partitioned copy, whose scan the predicate prunes
        base = str(tmp_path / "by_p")
        df.write.partitionBy("p").parquet(base)
        assert run("from_path", [spark.read.parquet(base)], 8)[0] == whole


def test_unique_samples_ignore_keys_repeated_across_partitions(spark, tmp_path):
    """A group-scoped uniqueness sample holds only the rows the verdict
    counts: a key repeated across partitions (but not within one) is no
    violation, however the partitions are chunked into one pass."""
    import json

    # key k repeats across every partition; partition 3 also repeats k=0
    rows = [(p * 10 + i, p, i) for p in range(4) for i in range(5)] + [(99, 3, 0)]
    df = spark.createDataFrame(rows, "id long, p int, k int")
    suite = ConstraintSuite("uniq").add("expect_column_values_to_be_unique", column="k")

    def run(name, chunk_size, keys):
        store = ResultsStore(spark, str(tmp_path / name))
        CheckpointRunner(store, chunk_size=chunk_size).run(
            df, suite, partition_col="p", snapshot_id="s", violation_key_columns=keys
        )
        return {
            r["partition_id"]: (r["unexpected_count"], json.loads(r["violations_json"]))
            for r in store.verdicts(suite.fingerprint, "s").collect()
        }

    for tag, keys in (("rows", None), ("keys", ["id", "k"])):
        got = run(f"c64_{tag}", 64, keys)
        assert {p: n for p, (n, _) in got.items()} == {"0": 0, "1": 0, "2": 0, "3": 2}
        assert all(s == [] for p, (_, s) in got.items() if p != "3")
        assert sorted(d["id"] for d in got["3"][1]) == [30, 99]
        assert run(f"c1_{tag}", 1, keys) == got


def test_chunk_predicate_pushed_in_native_type(spark, tmp_path, monkeypatch):
    """A resume excludes the done partitions with a predicate in the
    column's own type, so a flat parquet int column gets it as a pushed
    filter (row-group statistics)."""
    import pyspark.sql.functions as F

    from data_profiler_spark import checkpoint

    path = str(tmp_path / "flat")
    _many_violations(spark).write.parquet(path)
    suite = ConstraintSuite("push").add(
        "expect_column_values_to_not_be_null", column="content"
    )
    store = ResultsStore(spark, str(tmp_path / "store"))
    CheckpointRunner(store, chunk_size=4).run(
        spark.read.parquet(path).where(F.col("p") < 4), suite, partition_col="p"
    )
    seen = []

    class Spy(checkpoint.Validator):
        def __init__(self, df, **kw):
            seen.append(df)
            super().__init__(df, **kw)

    monkeypatch.setattr(checkpoint, "Validator", Spy)
    rep = CheckpointRunner(store, chunk_size=4).run(
        spark.read.parquet(path), suite, partition_col="p"
    )
    assert len(rep.validated_partitions) == 12 and len(seen) == 1
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [")[1]
    assert "Not(In(p, [0,1,2,3]))" in pushed


def test_one_validation_pass_whatever_the_chunking(spark, code_tables, suite, tmp_path):
    """A run is one validation pass: chunking changes only the commits, not
    the Spark jobs. Every sentinel's lineage records the pass's duration."""
    import json

    files, _ = code_tables
    dfp = add_partition_column(files, n_buckets=6, cols=["repo", "path"])
    tracker = spark.sparkContext.statusTracker()

    def run(name, chunk_size):
        store = ResultsStore(spark, str(tmp_path / name))
        before = set(tracker.getJobIdsForGroup())
        rep = CheckpointRunner(store, chunk_size=chunk_size).run(
            dfp, suite, partition_col="partition_id",
            violation_key_columns=["repo", "path", "commit"],
        )
        jobs = len(set(tracker.getJobIdsForGroup()) - before)
        return store, rep, jobs

    store1, rep1, jobs1 = run("c1", 1)
    _, rep100, jobs100 = run("c100", 100)
    assert len(rep1.validated_partitions) == len(rep100.validated_partitions) == 6
    assert jobs1 == jobs100
    lineage = [
        json.loads(r["observed_json"])
        for r in store1.read().where("constraint_id = '__partition_done__'").collect()
    ]
    assert len(lineage) == 6
    assert len({d["pass_duration_ms"] for d in lineage}) == 1


def test_north_suite_job_count(spark, code_tables):
    """The north suite's grouped validation pass (null, length,
    compound-unique, referential, drift) submits 8 Spark jobs. A change to
    the lowering that adds a job to every checkpoint run fails here."""
    files, commits = code_tables
    counts = {r["lang"]: r["count"] for r in files.groupBy("lang").count().collect()}
    total = sum(counts.values())
    langs = sorted(counts)
    baseline = {"values": langs, "weights": [counts[x] / total for x in langs], "n": total}
    north = (
        ConstraintSuite("north")
        .add("expect_column_values_to_not_be_null", column="content", mostly=0.98)
        .add("expect_column_value_lengths_to_be_between",
             column="content", min_value=0, max_value=1_000_000)
        .add("expect_compound_columns_to_be_unique", column_list=["repo", "path", "commit"])
        .add("expect_compound_columns_to_exist_in_table", column_list=["repo", "commit"],
             other_table_name="commits", mostly=0.99)
        .add("expect_column_distribution_to_match_baseline",
             column="lang", baseline=baseline, p=0.001)
    )
    dfp = add_partition_column(files, n_buckets=6, cols=["repo", "path"])
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    res = Validator(dfp, tables={"commits": commits}).validate(
        north, group_by=["partition_id"]
    )
    assert len(res.results) == 6 * 5
    assert len(set(tracker.getJobIdsForGroup()) - before) <= 8


# Spark jobs of a north-suite resume (test_resume_pass_job_count): the
# fused pass, the post passes and one sampling job.
RESUME_JOBS = 11


def _north_suite(files):
    """The north suite: null, length, compound-unique, referential, drift."""
    counts = {r["lang"]: r["count"] for r in files.groupBy("lang").count().collect()}
    total = sum(counts.values())
    langs = sorted(counts)
    baseline = {"values": langs, "weights": [counts[x] / total for x in langs], "n": total}
    return (
        ConstraintSuite("north")
        .add("expect_column_values_to_not_be_null", column="content", mostly=0.98)
        .add("expect_column_value_lengths_to_be_between",
             column="content", min_value=0, max_value=1_000_000)
        .add("expect_compound_columns_to_be_unique", column_list=["repo", "path", "commit"])
        .add("expect_compound_columns_to_exist_in_table", column_list=["repo", "commit"],
             other_table_name="commits", mostly=0.99)
        .add("expect_column_distribution_to_match_baseline",
             column="lang", baseline=baseline, p=0.001)
    )


def test_resume_pass_job_count(spark, code_tables, tmp_path):
    """A resume of the north suite submits only the validation pass's and
    the sampling's jobs: a partition listing scan or a Spark read of the
    store would add jobs and fail here. Nothing stays persisted after the
    run, nor after a bare ``validate``."""
    files, commits = code_tables
    north = _north_suite(files)
    dfp = add_partition_column(files, n_buckets=6, cols=["repo", "path"])
    store = ResultsStore(spark, str(tmp_path / "store"))
    store.mark_done("earlier", north.fingerprint, "", ["0", "1", "2"])
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    cached = set(persistent().keys())
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    rep = CheckpointRunner(store).run(
        dfp, north, partition_col="partition_id", tables={"commits": commits},
        violation_key_columns=["repo", "path", "commit"],
    )
    jobs = len(set(tracker.getJobIdsForGroup()) - before)
    assert rep.validated_partitions == ["3", "4", "5"]
    assert rep.skipped_partitions == ["0", "1", "2"]
    assert jobs <= RESUME_JOBS, jobs
    assert set(persistent().keys()) == cached
    Validator(dfp, tables={"commits": commits}).validate(
        north, group_by=["partition_id"]
    )
    assert set(persistent().keys()) == cached


def test_truncated_part_file_fails_loudly(spark, suite, code_tables, tmp_path):
    """A store that cannot be read must not look empty: a resume would
    re-validate every partition and append duplicate verdicts. Only a
    missing path reads as an empty store."""
    import os

    files, _ = code_tables
    store = ResultsStore(spark, str(tmp_path / "store"))
    assert store.completed_partitions("fp", "") == set()
    dfp = add_partition_column(files, n_buckets=4, cols=["repo", "path"])
    runner = CheckpointRunner(store, chunk_size=2)
    runner.run(dfp, suite, partition_col="partition_id")
    parts = sorted(p for p in os.listdir(store.path) if p.endswith(".parquet"))
    with open(os.path.join(store.path, parts[0]), "r+b") as fh:
        fh.truncate(64)
    with pytest.raises(Exception, match="FAILED_READ_FILE|parquet"):
        runner.run(dfp, suite, partition_col="partition_id")


@pytest.mark.parametrize("mode", ["append", "overwrite"])
def test_arrow_append_crash_leaves_no_partial_part(spark, tmp_path, monkeypatch, mode):
    """A write that fails midway leaves the store as it was: no readable
    partial part file, no staging file, the old rows intact (an overwrite
    deletes them only after the new part is in place). The failure is
    raised, not turned into a silent Spark-write retry."""
    import os

    import pyarrow.parquet as pq

    from data_profiler_spark.sources import results_store
    from data_profiler_spark.sources.results_store import RESULT_SCHEMA

    def row(run_id):
        return tuple(
            {"run_id": run_id, "constraint_id": "c"}.get(f.name)
            for f in RESULT_SCHEMA.fields
        )

    path = str(tmp_path / "store")
    assert results_store.arrow_append_rows(path, [row("old")], RESULT_SCHEMA)
    before = sorted(os.listdir(path))

    def crash(table, where, **kw):
        with open(where, "wb") as fh:
            fh.write(b"PAR1 partial")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", crash)
    with pytest.raises(OSError, match="disk full"):
        results_store.arrow_append_rows(path, [row("new")], RESULT_SCHEMA, mode)
    assert sorted(os.listdir(path)) == before
    got = spark.read.schema(RESULT_SCHEMA).parquet(path).collect()
    assert [r["run_id"] for r in got] == ["old"]

    monkeypatch.undo()
    assert results_store.arrow_append_rows(path, [row("new")], RESULT_SCHEMA, mode)
    got = sorted(r["run_id"] for r in spark.read.parquet(path).collect())
    assert got == (["new"] if mode == "overwrite" else ["new", "old"])
    assert not [p for p in os.listdir(path) if p.startswith(".")]

    # a type Arrow does not map raises, naming the field
    import pyspark.sql.types as T

    interval = T.StructType([T.StructField("m", T.YearMonthIntervalType())])
    with pytest.raises(TypeError, match="'m'"):
        results_store.arrow_append_rows(str(tmp_path / "m"), [(1,)], interval)


def test_arrow_append_fsyncs_part_then_directory(tmp_path, monkeypatch):
    """A commit is durable once it returns: the staged part file is
    fsynced before the rename, and the directory after it."""
    import os
    import stat

    from data_profiler_spark.sources import results_store
    from data_profiler_spark.sources.results_store import RESULT_SCHEMA

    calls: list[str] = []
    fsync, replace = os.fsync, os.replace

    def traced_fsync(fd):
        calls.append("fsync dir" if stat.S_ISDIR(os.fstat(fd).st_mode) else "fsync file")
        fsync(fd)

    def traced_replace(src, dst):
        calls.append("replace")
        replace(src, dst)

    monkeypatch.setattr(os, "fsync", traced_fsync)
    monkeypatch.setattr(os, "replace", traced_replace)
    row = tuple(None for _ in RESULT_SCHEMA.fields)
    for mode in ("append", "overwrite"):
        calls.clear()
        results_store.arrow_append_rows(str(tmp_path / "store"), [row], RESULT_SCHEMA, mode)
        assert calls == ["fsync file", "replace", "fsync dir"], mode


class _Killed(BaseException):
    """A kill -9: not an ``Exception``, so no handler in the store catches
    it."""


class _KillAt:
    """Stands in for ``os`` inside ``results_store``: counts calls of
    ``fn`` and kills the process at the ``k``-th (never when ``k`` is
    None). Like a real kill, nothing after that point runs: every later
    ``os`` use raises too, so no cleanup removes a staging file."""

    def __init__(self, fn: str, k: int | None = None) -> None:
        self.fn, self.k, self.calls, self.dead = fn, k, 0, False

    def __getattr__(self, name):
        import os

        if self.dead:
            raise _Killed(name)
        if name != self.fn:
            return getattr(os, name)

        def call(*args):
            self.calls += 1
            if self.calls == self.k:
                self.dead = True
                raise _Killed(f"{name}{args}")
            return getattr(os, name)(*args)

        return call


def _four_partitions(spark):
    rows = [(i, i % 4, None if i % 5 == 0 else f"c{i}") for i in range(40)]
    return spark.createDataFrame(rows, "id long, p int, content string")


_KILL_SUITE = (
    ConstraintSuite("kill")
    .add("expect_column_values_to_not_be_null", column="content")
    .add("expect_column_values_to_be_unique", column="id")
)


def _one_verdict_set_each(store, parts):
    """Exactly one sentinel per partition, and one verdict row per
    (partition, constraint) in both the raw store and ``verdicts()``."""
    from collections import Counter

    from data_profiler_spark.sources.results_store import DONE_SENTINEL

    fp = _KILL_SUITE.fingerprint
    rows = store.read().collect()
    sentinels = Counter(r["partition_id"] for r in rows if r["constraint_id"] == DONE_SENTINEL)
    stored = Counter(_verdict_key(r) for r in rows if r["constraint_id"] != DONE_SENTINEL)
    read = Counter(_verdict_key(r) for r in store.verdicts(fp, "").collect())
    want = {(p, c.id): 1 for p in parts for c in _KILL_SUITE.constraints}
    return sentinels == {p: 1 for p in parts} and stored == want and read == want


def test_killed_commit_resumes_to_one_verdict_set(spark, tmp_path, monkeypatch):
    """A run killed at any part-file rename resumes to exactly one sentinel
    and one verdict set per partition. Each chunk commits as ONE part
    file, so 4 partitions in chunks of 2 take 2 renames; a commit split
    into a verdict file and a sentinel file doubles the chunk's verdicts
    when the kill lands between the two."""
    from data_profiler_spark.sources import results_store

    df = _four_partitions(spark)
    parts = ["0", "1", "2", "3"]

    counter = _KillAt("replace")
    with monkeypatch.context() as m:
        m.setattr(results_store, "os", counter)
        CheckpointRunner(ResultsStore(spark, str(tmp_path / "ref")), chunk_size=2).run(
            df, _KILL_SUITE, partition_col="p"
        )
    renames = counter.calls

    bad = []
    for k in range(1, renames + 1):
        store = ResultsStore(spark, str(tmp_path / f"k{k}"))
        with monkeypatch.context() as m:
            m.setattr(results_store, "os", _KillAt("replace", k))
            with pytest.raises(_Killed):
                CheckpointRunner(store, chunk_size=2).run(df, _KILL_SUITE, partition_col="p")
        CheckpointRunner(store, chunk_size=2).run(df, _KILL_SUITE, partition_col="p")
        if not _one_verdict_set_each(store, parts):
            bad.append(k)
    assert bad == []
    assert renames == 2


def test_stale_staging_file_is_invisible(spark, tmp_path, monkeypatch):
    """A kill before the second chunk's rename leaves its complete staging
    file (``.part-*.parquet``) in the store. The store reads, the resume
    and the final verdicts ignore it."""
    import os

    from data_profiler_spark.sources import results_store

    df = _four_partitions(spark)
    store = ResultsStore(spark, str(tmp_path / "store"))
    with monkeypatch.context() as m:
        m.setattr(results_store, "os", _KillAt("replace", 2))
        with pytest.raises(_Killed):
            CheckpointRunner(store, chunk_size=2).run(df, _KILL_SUITE, partition_col="p")
    staged = [f for f in os.listdir(store.path) if f.startswith(".part-")]
    assert len(staged) == 1 and staged[0].endswith(".parquet")

    fp = _KILL_SUITE.fingerprint
    assert store.completed_partitions(fp, "") == {"0", "1"}
    assert {r["partition_id"] for r in store.verdicts(fp, "").collect()} == {"0", "1"}
    rep = CheckpointRunner(store, chunk_size=2).run(df, _KILL_SUITE, partition_col="p")
    assert rep.validated_partitions == ["2", "3"]
    assert _one_verdict_set_each(store, ["0", "1", "2", "3"])


def test_profile_overwrite_killed_before_old_parts_deleted(spark, tmp_path, monkeypatch):
    """An overwrite killed after its part file is in place but before the
    old parts are deleted leaves both copies; the next overwrite leaves
    exactly one copy of each run's rows."""
    from data_profiler_spark.operators.profile import profile
    from data_profiler_spark.operators.profile_diff import ProfileStore
    from data_profiler_spark.sources import results_store

    prof = profile(_four_partitions(spark), columns=["id"])
    store = ProfileStore(spark, str(tmp_path / "profiles"))
    store.append_runs([(prof, "base")], "s")
    store.append_runs([(prof, "cur")], "s")
    n = len(store.run_rows("base"))
    assert n > 0

    runs = [(prof, "base"), (prof, "cur")]
    with monkeypatch.context() as m:
        m.setattr(results_store, "os", _KillAt("remove", 1))
        with pytest.raises(_Killed):
            store.append_runs(runs, "s", mode="overwrite")
    assert {k: len(v) for k, v in store.runs_rows(["base", "cur"]).items()} == {
        "base": 2 * n, "cur": 2 * n,
    }

    store.append_runs(runs, "s", mode="overwrite")
    assert {k: len(v) for k, v in store.runs_rows(["base", "cur"]).items()} == {
        "base": n, "cur": n,
    }


def test_completed_partitions_ignores_staged_part(spark, tmp_path):
    """The done set is read as Spark lists the store: a staged
    ``.part-*.parquet`` (a commit killed before its rename) and ``_``-files
    are invisible, next to committed parts and alone."""
    import os
    import shutil

    store = ResultsStore(spark, str(tmp_path / "store"))
    store.mark_done("r1", "fp", "", ["a"])
    (committed,) = os.listdir(store.path)
    other = ResultsStore(spark, str(tmp_path / "other"))
    other.mark_done("r2", "fp", "", ["b"])
    (part,) = os.listdir(other.path)
    shutil.copy(os.path.join(other.path, part), os.path.join(store.path, "." + part))
    open(os.path.join(store.path, "_SUCCESS"), "w").close()
    assert store.completed_partitions("fp", "") == {"a"}
    assert store.completed_partitions("fp", "other-snapshot") == set()
    os.remove(os.path.join(store.path, committed))
    assert store.completed_partitions("fp", "") == set()


@pytest.mark.parametrize("ddl", ["int", "string", "date"])
def test_resume_validates_exactly_the_pending_partitions(spark, tmp_path, ddl):
    """A resume validates the partitions with no sentinel and no others,
    whatever the partition column's type: the done keys are compared as
    values of that type."""
    import datetime

    import pyspark.sql.functions as F

    values = {
        "int": [0, 1, 2, 3],
        "string": ["a", "b", "c", "d"],
        "date": [datetime.date(2024, 2, d) for d in (27, 28, 29)] + [datetime.date(2024, 3, 1)],
    }[ddl]
    keys = [str(v) for v in values]
    rows = [(i, values[i % 4], None if i % 5 == 0 else f"c{i}") for i in range(40)]
    df = spark.createDataFrame(rows, f"id long, p {ddl}, content string")
    store = ResultsStore(spark, str(tmp_path / "store"))
    runner = CheckpointRunner(store, chunk_size=1)
    first = runner.run(df.where(F.col("p").isin(values[:2])), _KILL_SUITE, partition_col="p")
    assert first.validated_partitions == keys[:2]
    rep = runner.run(df, _KILL_SUITE, partition_col="p")
    assert rep.validated_partitions == keys[2:]
    assert rep.skipped_partitions == keys[:2]
    assert rep.planned_partitions == keys
    stored = store.verdicts(_KILL_SUITE.fingerprint, "").collect()
    assert {r["partition_id"] for r in stored if r["run_id"] == rep.run_id} == set(keys[2:])
    assert {r["partition_id"]: r["element_count"] for r in stored} == {k: 10 for k in keys}


def test_unconvertible_done_key_does_not_empty_the_pass(spark, tmp_path):
    """A done key that names no value of the column's type (``x``, and
    ``1.0`` / ``01``, which no int prints as) is left out of the
    predicate: as a NULL in the ``NOT IN`` list it would filter out every
    row."""
    store = ResultsStore(spark, str(tmp_path / "store"))
    store.mark_done("earlier", _KILL_SUITE.fingerprint, "", ["x", "1.0", "01", "2"])
    rep = CheckpointRunner(store, chunk_size=2).run(
        _four_partitions(spark), _KILL_SUITE, partition_col="p"
    )
    assert rep.validated_partitions == ["0", "1", "3"]


def test_null_partition_value_fails_before_any_append(spark, tmp_path):
    """Rows with a NULL partition value reach the pass, and the run raises,
    naming the column and the row count, before anything is stored: a
    sentinel for them would mark rows done that no verdict covers."""
    import os

    rows = [(i, None if i < 3 else i % 2, f"c{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "id long, p int, content string")
    store = ResultsStore(spark, str(tmp_path / "store"))
    with pytest.raises(ValueError, match="3 rows have a NULL partition column 'p'"):
        CheckpointRunner(store).run(df, _KILL_SUITE, partition_col="p")
    assert not os.path.exists(store.path)


def test_kept_violation_sets_sample_like_a_recomputation(spark, code_tables, suite):
    """Samples planned from the duplicate keys and orphan keys the post
    passes kept are the samples a recomputed duplicate search and
    anti-join give, and ``release`` leaves nothing persisted."""
    files, commits = code_tables
    suite = ConstraintSuite("kept", constraints=list(suite.constraints)).add(
        "expect_compound_columns_to_exist_in_table", column_list=["repo", "commit"],
        other_table_name="commits",
    )
    dfp = add_partition_column(files, n_buckets=6, cols=["repo", "path"])
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    cached = set(persistent().keys())

    def samples(keep):
        v = Validator(dfp, tables={"commits": commits})
        res = v.validate(suite, group_by=["partition_id"], keep_violations=keep)
        try:
            uni = v.violation_samples_unioned(
                res, limit=5, key_columns=["repo", "path", "commit"]
            )
            return sorted(tuple(r) for r in uni.collect())
        finally:
            kept = {c.id for c in suite.constraints[1:]} if keep else set()
            assert set(res.plan.frames) == kept
            res.plan.release()

    kept = samples(True)
    assert {r[0] for r in kept} == {c.id for c in suite.constraints[1:]}
    assert kept == samples(False)
    assert set(persistent().keys()) == cached


def test_validate_then_sample_compiles_each_constraint_once(
    spark, code_tables, suite, monkeypatch
):
    """Sampling plans from the constraints ``validate`` compiled: the pair
    compiles each constraint once."""
    from data_profiler_spark import validator

    files, commits = code_tables
    suite = ConstraintSuite("once", constraints=list(suite.constraints)).add(
        "expect_compound_columns_to_exist_in_table", column_list=["repo", "commit"],
        other_table_name="commits",
    )
    compile_constraint = validator.compile_constraint
    calls = []

    def counted(*a, **kw):
        calls.append(a[0].id)
        return compile_constraint(*a, **kw)

    monkeypatch.setattr(validator, "compile_constraint", counted)
    dfp = add_partition_column(files, n_buckets=6, cols=["repo", "path"])
    v = Validator(dfp, tables={"commits": commits})
    res = v.validate(suite, group_by=["partition_id"], keep_violations=True)
    try:
        assert not res.success
        v.violation_samples_unioned(res, limit=5).collect()
        v.violation_samples_unioned(res, limit=5, key_columns=["repo"]).collect()
    finally:
        res.plan.release()
    assert len(calls) == len(suite.constraints)


def test_samples_without_key_columns_take_one_job(spark, tmp_path):
    """A run that stores whole violating rows samples every failed
    constraint in one job, as a run with key columns does: both submit the
    same number of jobs."""
    df = _many_violations(spark)
    suite = (
        ConstraintSuite("three_failing")
        .add("expect_column_values_to_not_be_null", column="content")
        .add("expect_column_values_to_be_between", column="id", min_value=0, max_value=100)
        .add("expect_column_value_lengths_to_be_between", column="content",
             min_value=0, max_value=2)
    )
    tracker = spark.sparkContext.statusTracker()

    def jobs(name, keys):
        store = ResultsStore(spark, str(tmp_path / name))
        before = set(tracker.getJobIdsForGroup())
        CheckpointRunner(store, violation_limit=3).run(
            df, suite, partition_col="p", violation_key_columns=keys
        )
        n = len(set(tracker.getJobIdsForGroup()) - before)
        failed = {
            r["constraint_id"] for r in store.verdicts(suite.fingerprint, "").collect()
            if r["success"] is False
        }
        assert failed == {c.id for c in suite.constraints}
        return n

    assert jobs("rows", None) == jobs("keys", ["id"])


@pytest.mark.parametrize("keys", [None, ["constraint_id"]])
def test_data_column_named_like_the_tag_is_kept(spark, tmp_path, keys):
    """The union's constraint-id tag takes another name when a data column
    is called ``constraint_id``: the stored sample keeps the data value,
    and the verdict row the sample is filed under is the constraint's."""
    import json

    rows = [(i, i % 2, None if i % 3 == 0 else f"c{i}", f"data{i}") for i in range(12)]
    df = spark.createDataFrame(rows, "id long, p int, content string, constraint_id string")
    store = ResultsStore(spark, str(tmp_path / "store"))
    CheckpointRunner(store, violation_limit=5).run(
        df, _KILL_SUITE, partition_col="p", violation_key_columns=keys
    )
    cid = _KILL_SUITE.constraints[0].id  # content not null; ids are unique
    stored = {
        r["partition_id"]: json.loads(r["violations_json"])
        for r in store.verdicts(_KILL_SUITE.fingerprint, "").collect()
        if r["constraint_id"] == cid
    }
    assert {p: sorted(d["constraint_id"] for d in ds) for p, ds in stored.items()} == {
        "0": ["data0", "data6"], "1": ["data3", "data9"],
    }

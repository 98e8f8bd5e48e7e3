"""Resumability (FIXTURES.md §5): a partially-completed run resumes by
validating only missing partitions, and final verdicts match a from-scratch
run exactly."""

from __future__ import annotations

import pytest

from data_profiler_spark.checkpoint import CheckpointRunner
from data_profiler_spark.core.suite import ConstraintSuite
from data_profiler_spark.sources.results_store import ResultsStore
from data_profiler_spark.validator import add_partition_column


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


def test_violation_samples_unioned_matches_per_constraint(spark, code_tables, suite):
    """One-job union of all violation samples must carry exactly the same
    rows as the per-constraint DataFrames (VERDICT r3 #8 — the per-job
    fixed cost was a serial scaling term)."""
    from data_profiler_spark.validator import Validator

    files, commits = code_tables
    dfp = add_partition_column(files, n_buckets=6, cols=["repo", "path"])
    v = Validator(dfp, tables={"commits": commits})
    res = v.validate(suite, group_by=["partition_id"])
    keys = ["partition_id", "repo", "path", "commit"]
    per = v.violation_samples(suite, limit=20, only_failed_of=res, key_columns=keys)
    uni = v.violation_samples_unioned(
        suite, limit=20, only_failed_of=res, key_columns=keys
    )
    if not per:
        assert uni is None
        return
    want = {
        (cid, tuple(r)) for cid, sdf in per.items() for r in sdf.collect()
    }
    got = {
        (r["constraint_id"], tuple(r)[1:]) for r in uni.collect()
    }
    assert got == want
    # requires a shared schema
    import pytest as _pytest

    with _pytest.raises(ValueError):
        v.violation_samples_unioned(suite, limit=20)


def test_violation_union_shares_one_cached_scan(spark, code_tables, suite):
    """VERDICT r4 #6: a pre-persisted source feeds every branch of the
    K-branch union from InMemoryTableScan (plan check). A non-persisted
    source is left uncached (each branch rescans only the columns it
    reads) and gives the same rows."""
    from pyspark import StorageLevel
    from data_profiler_spark.validator import Validator

    files, commits = code_tables
    dfp = add_partition_column(files, n_buckets=6, cols=["repo", "path"])
    keys = ["partition_id", "repo", "path", "commit"]

    # caller-persisted chunk (the checkpoint-runner shape): plan check
    dfp_cached = dfp.persist()
    try:
        v = Validator(dfp_cached, tables={"commits": commits})
        res = v.validate(suite, group_by=["partition_id"])
        uni = v.violation_samples_unioned(
            suite, limit=20, only_failed_of=res, key_columns=keys
        )
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
    uni2 = v2.violation_samples_unioned(
        suite, limit=20, only_failed_of=res2, key_columns=keys
    )
    assert dfp.storageLevel == StorageLevel.NONE
    if uni2 is not None:
        rows_auto = {
            (r["constraint_id"], tuple(r)[1:]) for r in uni2.collect()
        }
        assert rows_auto == rows_cached


def test_violation_samples_prepared_overlap(spark, code_tables, suite):
    """prepare_violation_samples (plan pre-build, overlappable with an
    executor job) + prepared= must yield exactly the rows of the direct
    path, subset to the failed constraints (VERDICT r4 #5 F-shave)."""
    from data_profiler_spark.validator import Validator

    files, commits = code_tables
    dfp = add_partition_column(files, n_buckets=6, cols=["repo", "path"])
    v = Validator(dfp, tables={"commits": commits})
    keys = ["partition_id", "repo", "path", "commit"]
    prepared = v.prepare_violation_samples(suite, limit=20, key_columns=keys)
    res = v.validate(suite, group_by=["partition_id"])
    direct = v.violation_samples_unioned(
        suite, limit=20, only_failed_of=res, key_columns=keys
    )
    via_prep = v.violation_samples_unioned(
        suite, limit=20, only_failed_of=res, key_columns=keys,
        prepared=prepared,
    )
    if direct is None:
        assert via_prep is None
        return
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(via_prep) == as_set(direct)
    # prepared carries ALL violation-capable constraints; the union keeps
    # only the failed subset
    failed = {r.constraint_id for r in res.results if not r.success}
    assert failed <= set(prepared)
    assert {r["constraint_id"] for r in via_prep.collect()} <= failed


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
    """The chunk predicate compares the column in its own type, so a flat
    parquet int column gets it as a pushed filter (row-group statistics)."""
    from data_profiler_spark import checkpoint

    path = str(tmp_path / "flat")
    _many_violations(spark).write.parquet(path)
    seen = []

    class Spy(checkpoint.Validator):
        def __init__(self, df, **kw):
            seen.append(df)
            super().__init__(df, **kw)

    monkeypatch.setattr(checkpoint, "Validator", Spy)
    suite = ConstraintSuite("push").add(
        "expect_column_values_to_not_be_null", column="content"
    )
    store = ResultsStore(spark, str(tmp_path / "store"))
    rep = CheckpointRunner(store, chunk_size=4).run(
        spark.read.parquet(path), suite, partition_col="p"
    )
    assert len(rep.validated_partitions) == 16 and len(seen) == 1
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "In(p," in pushed


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

    # a type the pyarrow mapping lacks still falls back to the Spark write
    import pyspark.sql.types as T

    mapped = T.StructType([T.StructField("m", T.MapType(T.StringType(), T.LongType()))])
    assert not results_store.arrow_append_rows(str(tmp_path / "m"), [({},)], mapped)

"""Source readers + partition discovery (SURVEY §2.1; ref
sparkdf_execution_engine.py:319-368 reader registry)."""

from __future__ import annotations

import pytest


def test_guess_format_and_read_path(spark, tmp_path):
    from data_profiler_spark.sources.readers import (
        guess_format_from_path,
        read_path,
    )

    assert guess_format_from_path("a/b.csv") == "csv"
    assert guess_format_from_path("a/b.tsv") == "csv"
    assert guess_format_from_path("a/b.jsonl") == "json"
    assert guess_format_from_path("a/b.parquet") == "parquet"
    with pytest.raises(ValueError):
        guess_format_from_path("a/b.unknown")

    csv = tmp_path / "t.csv"
    csv.write_text("id,name\n1,alpha\n2,beta\n")
    got = read_path(spark, str(csv)).collect()
    assert len(got) == 2 and got[0]["name"] in ("alpha", "beta")

    tsv = tmp_path / "t.tsv"
    tsv.write_text("id\tname\n1\talpha\n")
    assert read_path(spark, str(tsv)).columns == ["id", "name"]

    jl = tmp_path / "t.jsonl"
    jl.write_text('{"a": 1}\n{"a": 2}\n')
    assert read_path(spark, str(jl)).agg({"a": "sum"}).first()[0] == 3


def test_checkpoint_resume_over_partitioned_path(spark, tmp_path):
    """VERDICT r3 missing #1 (sandbox-feasible leg): CheckpointRunner over
    a Hive-style partitioned PATH — the partition
    predicate must reach the scan as a PartitionFilter (pruned read), and a
    resumed run must validate only the pending partitions."""
    import pyspark.sql.functions as F

    from data_profiler_spark.checkpoint import CheckpointRunner
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.sources.readers import read_path
    from data_profiler_spark.sources.results_store import ResultsStore

    base = str(tmp_path / "code")
    src = spark.createDataFrame(
        [
            (f"r{i % 3}", f"f{i}.py", f"c{i}", ["go", "py", "rs"][i % 3], f"body {i}")
            for i in range(90)
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    src.write.partitionBy("lang").mode("overwrite").parquet(base)

    df = read_path(spark, base, format="parquet")
    # the runner's chunk predicate must prune the scan, not post-filter it
    pruned = df.where(F.col("lang").isin(["go"]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]
    assert pruned.count() == 30

    suite = ConstraintSuite("path_ckpt").add(
        "expect_column_values_to_not_be_null", column="content"
    )
    store = ResultsStore(spark, str(tmp_path / "store"))
    runner = CheckpointRunner(store, chunk_size=2)
    # partial run over two partitions, then resume on the rest
    two = df.where(F.col("lang").isin(["go", "py"]))
    rep1 = runner.run(two, suite, partition_col="lang", snapshot_id="s1")
    assert sorted(rep1.validated_partitions) == ["go", "py"]
    rep2 = runner.run(df, suite, partition_col="lang", snapshot_id="s1")
    assert sorted(rep2.skipped_partitions) == ["go", "py"]
    assert rep2.validated_partitions == ["rs"]
    # verdicts present for all three partitions
    got = {r["partition_id"] for r in store.verdicts(suite.fingerprint, "s1").collect()}
    assert got == {"go", "py", "rs"}


def test_resume_predicate_prunes_a_partitioned_path(spark, tmp_path, monkeypatch):
    """On a Hive-style path the resume predicate (``lang IS NULL OR NOT
    lang IN (done)``) is a partition filter, so the scan lists only the
    pending partitions, and a rerun with every partition done reads no
    data file."""
    import pyspark.sql.functions as F

    from data_profiler_spark import checkpoint
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.sources.results_store import ResultsStore

    base = str(tmp_path / "code")
    spark.createDataFrame(
        [(i, ["go", "py", "rs"][i % 3], f"body {i}") for i in range(30)],
        "id long, lang string, content string",
    ).write.partitionBy("lang").parquet(base)
    df = spark.read.parquet(base)
    suite = ConstraintSuite("prune").add(
        "expect_column_values_to_not_be_null", column="content"
    )
    runner = checkpoint.CheckpointRunner(ResultsStore(spark, str(tmp_path / "store")))
    runner.run(df.where(F.col("lang") == "go"), suite, partition_col="lang")

    seen = []

    class Spy(checkpoint.Validator):
        def __init__(self, frame, **kw):
            seen.append(frame)
            super().__init__(frame, **kw)

    monkeypatch.setattr(checkpoint, "Validator", Spy)
    rep = runner.run(df, suite, partition_col="lang")
    assert rep.validated_partitions == ["py", "rs"]
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    filters = plan.split("PartitionFilters: [")[1].split("], ")[0]
    assert "isnull(lang#" in filters and "NOT (lang#" in filters

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    rep = runner.run(df, suite, partition_col="lang")
    assert rep.validated_partitions == []
    assert rep.skipped_partitions == ["go", "py", "rs"]
    status = spark.sparkContext._jsc.sc().statusStore()
    read = 0
    for job in set(tracker.getJobIdsForGroup()) - before:
        stages = status.job(job).stageIds()
        read += sum(
            status.lastStageAttempt(stages.apply(i)).inputBytes()
            for i in range(stages.size())
        )
    assert read == 0

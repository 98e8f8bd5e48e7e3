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


def test_list_path_partitions(spark, tmp_path):
    """Hive-style key=value discovery from the file layout — no catalog."""
    from data_profiler_spark.sources.readers import list_path_partitions

    df = spark.createDataFrame(
        [(i, ["go", "py"][i % 2], 2020 + i % 3) for i in range(60)],
        "id long, lang string, year int",
    )
    out = str(tmp_path / "partitioned")
    df.write.partitionBy("lang", "year").mode("overwrite").parquet(out)

    parts = list_path_partitions(spark, out)
    assert len(parts) == 6  # 2 langs x 3 years
    assert {"lang": "go", "year": "2020"} in parts
    assert all(set(p) == {"lang", "year"} for p in parts)
    # deterministic ordering (the checkpoint runner's iteration unit)
    assert parts == sorted(parts, key=lambda d: tuple(sorted(d.items())))


def test_show_partitions_fallback(spark, tmp_path):
    """list_table_partitions falls back to SHOW PARTITIONS when no Iceberg
    metadata table exists (no jars in-sandbox)."""
    from data_profiler_spark.sources.readers import list_table_partitions

    loc = str(tmp_path / "tbl")
    spark.sql("DROP TABLE IF EXISTS dps_part_test")
    spark.createDataFrame(
        [(1, "go"), (2, "py"), (3, "go")], "id long, lang string"
    ).write.partitionBy("lang").option("path", loc).saveAsTable("dps_part_test")
    try:
        parts = list_table_partitions(spark, "dps_part_test")
        assert {p["partition"] for p in parts} == {"lang=go", "lang=py"}
    finally:
        spark.sql("DROP TABLE IF EXISTS dps_part_test")


def test_list_path_partitions_base_with_equals(spark, tmp_path):
    """ADVICE r3: an '=' inside the BASE path (e.g. .../run=5/tbl/) must not
    inject spurious keys — segments are parsed relative to the base."""
    from data_profiler_spark.sources.readers import list_path_partitions

    base = tmp_path / "run=5" / "tbl"
    df = spark.createDataFrame(
        [(i, ["go", "py"][i % 2]) for i in range(20)], "id long, lang string"
    )
    df.write.partitionBy("lang").mode("overwrite").parquet(str(base))

    parts = list_path_partitions(spark, str(base))
    assert len(parts) == 2
    assert all(set(p) == {"lang"} for p in parts)  # no "run" key leaked


def test_checkpoint_resume_over_partitioned_path(spark, tmp_path):
    """VERDICT r3 missing #1 (sandbox-feasible leg): partition discovery +
    CheckpointRunner over a Hive-style partitioned PATH — the partition
    predicate must reach the scan as a PartitionFilter (pruned read), and a
    resumed run must validate only the pending partitions."""
    import pyspark.sql.functions as F

    from data_profiler_spark.checkpoint import CheckpointRunner
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.sources.readers import (
        list_path_partitions,
        read_path,
    )
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

    # discovery drives the runner's iteration unit
    parts = list_path_partitions(spark, base)
    assert parts == [{"lang": "go"}, {"lang": "py"}, {"lang": "rs"}]

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
    # partial run over two discovered partitions, then resume on the rest
    two = df.where(F.col("lang").isin(["go", "py"]))
    rep1 = runner.run(two, suite, partition_col="lang", snapshot_id="s1")
    assert sorted(rep1.validated_partitions) == ["go", "py"]
    rep2 = runner.run(df, suite, partition_col="lang", snapshot_id="s1")
    assert sorted(rep2.skipped_partitions) == ["go", "py"]
    assert rep2.validated_partitions == ["rs"]
    # verdicts present for all three partitions
    got = {r["partition_id"] for r in store.verdicts(suite.fingerprint, "s1").collect()}
    assert got == {"go", "py", "rs"}

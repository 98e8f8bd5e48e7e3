"""``local_frame``: driver-side rows become an Arrow-built ``LocalRelation``
that runs no Spark job, keeps its declared schema, and is the only way the
package turns driver rows into a DataFrame."""

from __future__ import annotations

import ast
import datetime
import time
from decimal import Decimal
from pathlib import Path

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from data_profiler_spark.core.session import local_frame

PACKAGE = Path(__file__).resolve().parents[1] / "data_profiler_spark"


def _leaves(df) -> list[str]:
    """Class names of the leaves of ``df``'s optimized logical plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def _jobs(spark, group: str, action):
    """``action()`` and the number of Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_local_relation_runs_no_job(spark):
    df = local_frame(spark, [(1, "a"), (2, None)], "k int, s string")
    assert _leaves(df) == ["LocalRelation"]
    rows, jobs = _jobs(spark, "local-frame-collect", df.collect)
    assert jobs == 0
    assert [tuple(r) for r in rows] == [(1, "a"), (2, None)]


def test_schema_is_the_declared_one(spark):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), nullable=False),
            T.StructField("v", T.DoubleType(), nullable=True),
            T.StructField("tags", T.ArrayType(T.StringType(), containsNull=False)),
        ]
    )
    df = local_frame(spark, [(1, None, ["x"])], schema)
    assert df.schema == schema
    assert local_frame(spark, [], schema).schema == schema
    with pytest.raises(ValueError, match="field 'k' is not nullable"):
        local_frame(spark, [(None, 1.0, [])], schema)


def test_nulls_empty_decimal_boolean_nested_arrays(spark):
    ddl = "d decimal(10,2), b boolean, aa array<array<double>>, s string"
    rows = [
        (Decimal("1.25"), True, [[1.0, 2.0], [], None, [None, 3.5]], "x"),
        (None, None, None, None),
        (Decimal("-0.50"), False, [], ""),
    ]
    df = local_frame(spark, rows, ddl)
    assert [tuple(r) for r in df.collect()] == rows
    empty = local_frame(spark, [], ddl)
    assert empty.collect() == [] and _leaves(empty) == ["LocalRelation"]


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_collected_date_and_timestamp_keys_join_back(spark, monkeypatch, tz):
    """Group keys collected from a frame, fed back through ``local_frame``,
    semi-join to their source rows, whatever the driver's local time zone
    (``collect()`` returns timestamps as naive local times)."""
    monkeypatch.setenv("TZ", tz)
    time.tzset()
    try:
        src = spark.range(4).selectExpr(
            "id",
            "IF(id = 3, NULL, date_add(DATE'2021-03-01', CAST(id AS INT))) AS d",
            "TIMESTAMP'2021-07-01 12:34:56.789' + make_interval(0, 0, 0, 0, CAST(id AS INT)) AS ts",
        )
        keys = [tuple(r) for r in src.select("d", "ts").collect()]
        assert keys[0][0] == datetime.date(2021, 3, 1)
        kdf = local_frame(spark, keys, src.select("d", "ts").schema)
        cond = src["d"].eqNullSafe(kdf["d"]) & src["ts"].eqNullSafe(kdf["ts"])
        hit = src.join(F.broadcast(kdf), on=cond, how="left_semi")
        assert sorted(r.id for r in hit.collect()) == [0, 1, 2, 3]
    finally:
        monkeypatch.undo()
        time.tzset()


def test_kmv_overlap_result_is_a_local_relation(spark):
    from data_profiler_spark.operators.sketches import kmv_overlap

    a = spark.range(100).select(F.col("id").alias("key"))
    b = spark.range(50, 150).select(F.col("id").alias("key"))
    out = kmv_overlap(a, b, "key", k=16)
    assert _leaves(out) == ["LocalRelation"]
    _, jobs = _jobs(spark, "kmv-overlap-collect", out.collect)
    assert jobs == 0


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.range(12).select(
        F.col("id").alias("vec_id"),
        F.array(
            F.col("id").cast("double"), F.lit(1.0), (F.col("id") % 3).cast("double"),
            F.lit(2.0),
        ).alias("embedding"),
    )


def test_ann_query_rows_plan_as_local_relation(corpus):
    from data_profiler_spark.operators.similarity import ann_topk_bruteforce

    queries = corpus.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = [(r.query_id, list(r.embedding)) for r in queries.collect()]
    out = ann_topk_bruteforce(corpus, queries, k=3, query_rows=rows)
    assert sorted(_leaves(out)) == ["LocalRelation", "Range"]
    assert out.count() == 6


def test_pq_lookup_tables_plan_as_local_relation(corpus):
    from data_profiler_spark.operators.similarity import (
        kmeans_like_centroids,
        pq_encode,
        pq_topk,
    )

    codes = pq_encode(corpus, kmeans_like_centroids(corpus, "vec_id", "embedding", 4),
                      "vec_id", "embedding", m=2)
    queries = corpus.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    rows = [(r.query_id, list(r.qvec)) for r in queries.collect()]
    out = pq_topk(codes, queries, k_top=3, query_rows=rows)
    assert "LocalRelation" in _leaves(out) and "LogicalRDD" not in _leaves(out)
    assert out.count() == 6


def _create_dataframe_calls(source: str) -> list[int]:
    """Lines of every ``.createDataFrame(`` call in ``source`` that is not
    inside a function named ``local_frame``."""
    found: list[int] = []

    def visit(node: ast.AST, inside: bool) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inside = inside or node.name == "local_frame"
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and not inside
        ):
            found.append(node.lineno)
        for child in ast.iter_child_nodes(node):
            visit(child, inside)

    visit(ast.parse(source), False)
    return found


def test_package_builds_driver_frames_only_through_local_frame():
    """``createDataFrame`` on a Python list plans a Python RDD: every action
    on it runs a Python-worker stage. Package code goes through
    ``local_frame`` instead."""
    probe = (
        "def local_frame(spark, t):\n    return spark.createDataFrame(t)\n"
        "def f(s):\n    return s.spark.createDataFrame([], 'a int')\n"
    )
    assert _create_dataframe_calls(probe) == [4]
    modules = sorted(PACKAGE.rglob("*.py"))
    assert len(modules) > 20
    calls = {
        f"{m.relative_to(PACKAGE.parent)}:{line}"
        for m in modules
        for line in _create_dataframe_calls(m.read_text())
    }
    assert calls == set()

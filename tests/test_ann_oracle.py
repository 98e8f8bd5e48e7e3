"""The ANN queries against their DuckDB oracles, plus the driver-side
input metadata those queries and every table read use."""

from __future__ import annotations

from pathlib import Path

import pytest

from tools.oracle_check import canon_rows, retarget

# the sf0.001 tables, as checked into the repository for the benchmark
SF_DIR = str(Path(__file__).resolve().parents[1] / "perfbench" / "data" / "sf0.001")

ANN_QUERIES = [
    "embedding_topk",
    "embedding_near_dups",
    "embedding_topk_ivf",
    "embedding_topk_ivf_refined",
    "embedding_dedup_clusters",
    "embedding_topk_pq",
    "embedding_topk_ivfpq",
]


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    yield con
    con.close()


@pytest.mark.parametrize("name", ANN_QUERIES)
def test_ann_query_matches_oracle(spark, duck, name):
    """Spark and the DuckDB oracle return the same rows, compared the way
    tools/oracle_check.py compares them."""
    from data_profiler_spark import queries as Q

    sdf = Q.queries()[name](spark, SF_DIR)
    got = canon_rows(list(sdf.columns), [tuple(r) for r in sdf.collect()])
    res = duck.sql(retarget(Q.oracle_sql()[name], SF_DIR))
    want = canon_rows([d[0] for d in res.description], res.fetchall())
    assert got[0] == want[0]
    assert len(got[1]) == len(want[1]) > 0
    assert got[1] == want[1]


def test_input_meta_follows_rewritten_file(tmp_path):
    """The footer metadata and ANN query rows are keyed on the files'
    identity: rewriting a parquet at the same (nested) path in-process
    serves the new row count and vectors, not the cached ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_profiler_spark.queries import _input_meta

    part = tmp_path / "embeddings.parquet" / "part=0"
    part.mkdir(parents=True)

    def write(n: int, scale: float) -> None:
        pq.write_table(
            pa.table({
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": [[scale * i, 1.0] for i in range(n)],
            }),
            part / "data.parquet",
        )

    write(8, 1.0)
    first = _input_meta(str(tmp_path), "embeddings")
    assert first["rows"] == 8 and first["row_groups"] == 1
    assert first["query_rows"] == [(i, [1.0 * i, 1.0]) for i in range(5)]

    write(20, 2.0)
    second = _input_meta(str(tmp_path), "embeddings")
    assert second["rows"] == 20
    assert second["query_rows"] == [(i, [2.0 * i, 1.0]) for i in range(5)]


def test_table_read_infers_schema_once(spark, tmp_path):
    """``_t`` submits Spark's schema-inference job at the first read of a
    table only; a rewritten file is inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_profiler_spark.queries import _t

    table = tmp_path / "t.parquet"
    table.mkdir()
    sc = spark.sparkContext

    def read(group: str):
        sc.setJobGroup(group, group)
        try:
            df = _t(spark, str(tmp_path), "t")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    pq.write_table(pa.table({"a": [1, 2]}), table / "data.parquet")
    first, jobs = read("schema-first")
    assert jobs == 1 and first.columns == ["a"]
    again, jobs = read("schema-again")
    assert jobs == 0 and again.schema == first.schema
    assert sorted(r.a for r in again.collect()) == [1, 2]

    pq.write_table(pa.table({"a": [3], "b": ["x"]}), table / "data.parquet")
    rewritten, jobs = read("schema-rewritten")
    assert jobs == 1 and rewritten.columns == ["a", "b"]
    assert [tuple(r) for r in rewritten.collect()] == [(3, "x")]

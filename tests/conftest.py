from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from data_profiler_spark.core.session import get_spark_session

    s = get_spark_session(
        app_name="data_profiler_spark_tests",
        master="local[4]",
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def typed_small(spark):
    """FIXTURES.md §4: 30-row mixed-type micro-fixture with known contents."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("ints", T.IntegerType()),
            T.StructField("floats", T.DoubleType()),
            T.StructField("strings", T.StringType()),
            T.StructField("dates", T.StringType()),
            T.StructField("cat", T.StringType()),
            T.StructField("pair_a", T.IntegerType()),
            T.StructField("pair_b", T.IntegerType()),
        ]
    )
    rows = []
    # ints: 1..10 x3 with 2 NULLs substituted, one duplicate pair kept
    ints = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10] * 3
    ints[5] = None
    ints[17] = None
    floats = [float(i) for i in range(30)]
    floats[3] = float("nan")
    floats[7] = 10.0  # histogram bin boundary
    strings = (
        ["alpha", "beta", "", " lead", "trail ", "match42", "nomatch", "x"] * 4
    )[:30]
    dates = (["2021-01-0" + str(i % 9 + 1) for i in range(28)] + ["not-a-date", "2021-13-99"])[:30]
    cat = (["a"] * 12 + ["b"] * 10 + ["c"] * 8)[:30]
    pair_a = [i % 5 for i in range(30)]
    pair_b = [(i % 5) - 1 for i in range(30)]
    pair_a[4] = None
    pair_b[9] = None
    pair_a[14], pair_b[14] = None, None
    for i in range(30):
        rows.append(
            (ints[i], floats[i], strings[i], dates[i], cat[i], pair_a[i], pair_b[i])
        )
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="session")
def code_tables(spark):
    from data_profiler_spark.sources.code_table import (
        generate_code_files,
        generate_commits,
    )

    files = generate_code_files(spark, 5000, seed=42, partitions=8).persist()
    files.count()
    commits = generate_commits(spark).persist()
    commits.count()
    yield files, commits
    files.unpersist()
    commits.unpersist()

"""File-level checks — the Spark rebuild of the reference's FileDataAsset
(/root/reference/src/data_profiler/data_asset/file_data_asset.py:173-643):
line-regex match counts, file hash equality and file size bounds.

The reference reads files on the driver with hashlib/json/re; here every
check is a distributed read:

- hashes / sizes via the ``binaryFile`` source (one row per file, columnar
  metadata — the size check never reads content thanks to column pruning);
- line-regex counts via ``spark.read.text`` + native ``rlike`` (one fused
  agg per file, parallel across files AND within large files).

At scale the same calls run over millions of objects in a manifest; nothing
here collects more than one row per file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def file_metadata(spark: SparkSession, path: str) -> DataFrame:
    """(path, length, modificationTime, sha256) per file.

    sha256 computed distributed with the native ``F.sha2`` over the binary
    content (the reference hashes with hashlib on the driver,
    file_data_asset.py:368-417)."""
    df = spark.read.format("binaryFile").load(path)
    return df.select(
        F.col("path"),
        F.col("length"),
        F.col("modificationTime"),
        F.sha2(F.col("content"), 256).alias("sha256"),
    )


def file_sizes(spark: SparkSession, path: str) -> DataFrame:
    """(path, length) — metadata-only projection; the binary content column
    is pruned from the scan entirely."""
    return spark.read.format("binaryFile").load(path).select("path", "length")


def expect_file_hash_to_equal(
    spark: SparkSession, path: str, expected_sha256: str
) -> dict:
    """ref: expect_file_hash_to_equal (file_data_asset.py:368-417; md5 there,
    sha256 here per the engine's fidelity invariant)."""
    rows = file_metadata(spark, path).select("sha256").collect()
    observed = rows[0]["sha256"] if rows else None
    return {
        "success": bool(observed == expected_sha256),
        "observed_value": observed,
    }


def expect_file_size_to_be_between(
    spark: SparkSession, path: str, min_size: int = 0, max_size: int | None = None
) -> dict:
    """ref: expect_file_size_to_be_between (file_data_asset.py:419-464)."""
    rows = file_sizes(spark, path).collect()
    size = int(rows[0]["length"]) if rows else 0
    ok = size >= min_size and (max_size is None or size <= max_size)
    return {"success": bool(ok), "observed_value": size}


def _file_lines(spark: SparkSession, path: str, skip: int = 0) -> DataFrame:
    """(path, value) rows, one per line.

    ``skip == 0`` (the common case) uses the splittable line reader —
    parallel across files AND within large files; line ORDER is irrelevant
    to any aggregate over it. ``skip > 0`` needs a contractual per-file line
    index (``monotonically_increasing_id`` tracks partition packing order,
    which is NOT guaranteed to be file order when one file spans splits —
    ADVICE r2), so it reads each file whole (``wholetext``) and derives the
    index with ``posexplode`` — exact, deterministic, bounded by the largest
    single file."""
    if skip <= 0:
        return spark.read.text(path).select(
            F.input_file_name().alias("path"), F.col("value")
        )
    whole = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("path"), F.col("value")
    )
    arr = F.split(F.col("value"), r"\r\n|\r|\n")
    # text() emits no row for a trailing newline: drop the empty last element
    arr = F.when(
        (F.size(arr) > 0) & (F.element_at(arr, -1) == ""),
        F.slice(arr, 1, F.size(arr) - 1),
    ).otherwise(arr)
    return (
        whole.select("path", F.posexplode(arr).alias("__ln", "value"))
        .where(F.col("__ln") >= skip)  # posexplode is 0-based
        .select("path", "value")
    )


def line_regex_match_counts(
    spark: SparkSession, path: str, regex: str, skip: int = 0,
    count_per_line: int | None = None,
) -> DataFrame:
    """Per-file (path, element_count, match_count, unexpected_percent) for a
    line regex — ONE fused agg, never a driver-side line loop (ref reads the
    whole file into a list, file_data_asset.py:186-249).

    ``skip`` drops the first N lines of each file (header skip), mirroring
    the reference's ``skip`` kwarg. ``count_per_line=None`` counts lines
    with >= 1 match (``rlike``); an int counts lines whose EXACT per-line
    match count equals it (native ``regexp_count`` — the reference's
    re.findall length semantics, file_data_asset.py:251-305)."""
    lines = _file_lines(spark, path, skip)
    if count_per_line is None:
        is_match = F.col("value").rlike(regex)
    else:
        is_match = F.regexp_count(F.col("value"), F.lit(regex)) == int(count_per_line)
    m = F.sum(F.when(is_match, 1).otherwise(0))
    return lines.groupBy("path").agg(
        F.count(F.lit(1)).alias("element_count"),
        m.alias("match_count"),
        F.round(
            100.0 * (F.count(F.lit(1)) - m) / F.count(F.lit(1)), 6
        ).alias("unexpected_percent"),
    )


def expect_file_line_regex_match_count_to_equal(
    spark: SparkSession, path: str, regex: str, expected_count: int, skip: int = 0,
    mostly: float = 1.0,
) -> dict:
    """ref: expect_file_line_regex_match_count_to_equal
    (file_data_asset.py:251-305): a line is unexpected unless the regex
    matches it EXACTLY ``expected_count`` times (len(re.findall) == N —
    exact semantics for any N via native ``regexp_count``); success when
    the expected-line fraction >= ``mostly``."""
    rows = line_regex_match_counts(
        spark, path, regex, skip, count_per_line=max(0, int(expected_count))
    ).collect()
    total = sum(int(r["element_count"]) for r in rows)
    matched = sum(int(r["match_count"]) for r in rows)
    success = total > 0 and matched / total >= mostly
    return {
        "success": bool(success),
        "observed_value": {"element_count": total, "match_count": matched},
    }

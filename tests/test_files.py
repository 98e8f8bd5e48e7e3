"""File-level checks (ref data_asset/file_data_asset.py:173-643)."""

from __future__ import annotations

import hashlib
import json

import pytest


@pytest.fixture(scope="module")
def file_fixture(tmp_path_factory):
    d = tmp_path_factory.mktemp("files")
    csv = d / "data.csv"
    csv.write_text("id,name\n1,alpha\n2,beta\n3,gamma\n")
    good_json = d / "good.json"
    good_json.write_text(json.dumps({"a": [1, 2, 3], "b": {"c": True}}))
    bad_json = d / "bad.json"
    bad_json.write_text('{"a": [1, 2,')
    return d


def test_file_hash_and_size(spark, file_fixture):
    from data_profiler_spark.sources.files import (
        expect_file_hash_to_equal,
        expect_file_size_to_be_between,
    )

    p = str(file_fixture / "data.csv")
    want = hashlib.sha256((file_fixture / "data.csv").read_bytes()).hexdigest()
    assert expect_file_hash_to_equal(spark, p, want)["success"] is True
    assert expect_file_hash_to_equal(spark, p, "0" * 64)["success"] is False

    size = (file_fixture / "data.csv").stat().st_size
    assert expect_file_size_to_be_between(spark, p, size, size)["success"] is True
    assert expect_file_size_to_be_between(spark, p, size + 1)["success"] is False


def test_line_regex_counts(spark, file_fixture):
    from data_profiler_spark.sources.files import (
        expect_file_line_regex_match_count_to_equal,
        line_regex_match_counts,
    )

    p = str(file_fixture / "data.csv")
    rows = line_regex_match_counts(spark, p, r"^\d+,").collect()
    assert len(rows) == 1
    assert rows[0]["element_count"] == 4 and rows[0]["match_count"] == 3

    # header skip makes every remaining line match
    r = expect_file_line_regex_match_count_to_equal(
        spark, p, r"^\d+,", expected_count=1, skip=1
    )
    assert r["success"] is True
    assert r["observed_value"] == {"element_count": 3, "match_count": 3}


def test_line_regex_exact_count_per_line(spark, file_fixture, tmp_path):
    """VERDICT r2 #9 / ADVICE r2: exact per-line match-count semantics for
    N != 1 (ref file_data_asset.py:251-305 counts len(re.findall))."""
    from data_profiler_spark.sources.files import (
        expect_file_line_regex_match_count_to_equal,
        line_regex_match_counts,
    )

    p = tmp_path / "multi.txt"
    p.write_text("a-b\n" "a-b-c\n" "x\n" "a-b-c-d\n")  # 1, 2, 0, 3 dashes
    rows = line_regex_match_counts(
        spark, str(p), r"-", count_per_line=2
    ).collect()
    assert rows[0]["element_count"] == 4 and rows[0]["match_count"] == 1

    r = expect_file_line_regex_match_count_to_equal(
        spark, str(p), r"-", expected_count=2
    )
    assert r["success"] is False
    assert r["observed_value"] == {"element_count": 4, "match_count": 1}
    # expected_count=0: exactly the no-dash lines count as expected
    r0 = expect_file_line_regex_match_count_to_equal(
        spark, str(p), r"-", expected_count=0, mostly=0.25
    )
    assert r0["success"] is True


def test_skip_deterministic_line_order(spark, tmp_path):
    """skip>0 must drop the FIRST lines of each file by content order
    (wholetext + posexplode), independent of split packing."""
    from data_profiler_spark.sources.files import _file_lines

    p = tmp_path / "ordered.txt"
    p.write_text("".join(f"line{i}\n" for i in range(100)))
    vals = {r["value"] for r in _file_lines(spark, str(p), skip=7).collect()}
    assert vals == {f"line{i}" for i in range(7, 100)}
    # no trailing-newline phantom line; file without trailing newline too
    q = tmp_path / "notrail.txt"
    q.write_text("h1\nh2\nbody")
    got = [r["value"] for r in _file_lines(spark, str(q), skip=2).collect()]
    assert got == ["body"]

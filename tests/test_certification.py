"""The certification-order rule (suite module docstring) on small
synthetic CORRECTNESS records.  No SparkSession needed."""

import json

from vtb_datafusion_2023_spark.suite.certification import (
    certification_order,
    is_green,
    load_rounds,
)

HASH_OK = {"hash_match": True, "err": None, "spark_rows": 3}
HASH_BAD = {"hash_match": False, "err": None, "spark_rows": 3}
ROWS_ONLY = {"hash_match": None, "err": "no_oracle", "spark_rows": 3}
ROWS_ONLY_FAILED = {"hash_match": None, "err": "no_oracle", "spark_rows": None}


def test_green_definition():
    assert is_green(HASH_OK) and is_green(ROWS_ONLY)
    assert not is_green(HASH_BAD) and not is_green(ROWS_ONLY_FAILED)
    assert not is_green({"hash_match": None, "err": "Py4JJavaError", "spark_rows": None})


def test_failed_then_never_then_stale_then_fresh():
    names = ["fresh", "stale", "never", "failed", "rows_only_failed"]
    rounds = {
        1: {"stale": HASH_OK, "failed": HASH_BAD},
        2: {"fresh": ROWS_ONLY, "rows_only_failed": ROWS_ONLY_FAILED},
    }
    assert certification_order(names, rounds) == [
        "failed", "rows_only_failed", "never", "stale", "fresh",
    ]


def test_newest_row_decides():
    rounds = {
        1: {"regressed": HASH_OK, "recovered": HASH_BAD, "old": HASH_OK},
        2: {"regressed": HASH_BAD, "recovered": HASH_OK},
    }
    # a later failure supersedes an earlier green; a later green an
    # earlier failure, and dates the head by its newest green
    assert certification_order(["recovered", "old", "regressed"], rounds) == [
        "regressed", "old", "recovered",
    ]


def test_rounds_sort_numerically():
    rounds = {10: {"a": HASH_OK}, 9: {"a": HASH_BAD, "b": HASH_OK}}
    assert certification_order(["a", "b"], rounds) == ["b", "a"]


def test_unregistered_names_are_ignored():
    rounds = {1: {"gone": HASH_BAD, "a": HASH_OK}}
    assert certification_order(["a", "b"], rounds) == ["b", "a"]


def test_ties_keep_registration_order():
    names = ["z", "m", "a", "y", "b"]
    rounds = {1: {n: HASH_OK for n in ("z", "a", "b")}, 2: {"m": HASH_BAD, "y": HASH_BAD}}
    assert certification_order(names, rounds) == ["m", "y", "z", "a", "b"]
    assert certification_order(["c", "b", "a"], rounds) == ["c", "b", "a"]


def test_no_records_keep_registration_order(tmp_path):
    assert load_rounds(str(tmp_path)) == {}
    assert certification_order(["c", "a", "b"], {}) == ["c", "a", "b"]


def test_load_rounds_reads_only_correctness_files(tmp_path):
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"a": HASH_OK}))
    (tmp_path / "CORRECTNESS_r11.json").write_text(json.dumps({"a": HASH_BAD}))
    (tmp_path / "CORRECTNESS_r03.json.bak").write_text("not json")
    (tmp_path / "BENCH_r04.json").write_text("{}")
    assert load_rounds(str(tmp_path)) == {2: {"a": HASH_OK}, 11: {"a": HASH_BAD}}

"""Readers that avoid per-call work: parquet schema inference runs once
per file version and session settings, and driver-sized frames reach the
JVM as Arrow tables.

``spark.read.parquet`` without a schema runs a footer-reading Spark job on
every call; ``load_table`` infers a single file's schema once and hands it
to later reads, which then run no job.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from vtb_datafusion_2023_spark.sources import readers

GROUP = "test-readers-schema"


def _jobs_in(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(GROUP, "schema inference")
    try:
        before = len(sc.statusTracker().getJobIdsForGroup(GROUP))
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(GROUP)) - before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_second_read_of_a_table_runs_no_job(spark, sf_small, tmp_path):
    shutil.copy(os.path.join(sf_small, "events.parquet"), tmp_path / "events.parquet")
    first, first_jobs = _jobs_in(spark, lambda: readers.load_table(spark, str(tmp_path), "events"))
    second, second_jobs = _jobs_in(spark, lambda: readers.load_table(spark, str(tmp_path), "events"))
    assert first_jobs >= 1  # the inference job the memo saves
    assert second_jobs == 0
    assert second.schema == first.schema
    assert dict(second.dtypes)["ts"] == "timestamp"
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert readers._read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = readers._read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_schema_follows_the_session_settings(spark, sf_small, tmp_path):
    path = str(tmp_path / "orders.parquet")
    shutil.copy(os.path.join(sf_small, "orders.parquet"), path)
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert dict(readers._read_parquet(spark, path).dtypes)["o_orderdate"] == "timestamp_ntz"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        ltz = readers._read_parquet(spark, path)
        assert dict(ltz.dtypes)["o_orderdate"] == "timestamp"
    finally:
        spark.conf.set(key, old)
    assert dict(readers._read_parquet(spark, path).dtypes)["o_orderdate"] == "timestamp_ntz"


def test_small_frame_matches_create_data_frame_without_python_rdd(spark):
    ddl = "id bigint, x double, s string"
    rows = [
        (1, 2.5, "a"),
        (None, float("nan"), None),
        (2**62, float("-inf"), "\u00e9"),
        (-3, -0.0, ""),
        (7, 0.1 + 0.2, "z"),
    ]
    got = readers.small_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    # repr: NaN != NaN, and -0.0 == 0.0 would hide a lost sign
    assert repr(got.collect()) == repr(want.collect())
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    empty = readers.small_frame(spark, [], ddl)
    assert empty.schema == want.schema and empty.collect() == []

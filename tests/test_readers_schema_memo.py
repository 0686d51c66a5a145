"""``sources.readers.read_parquet`` memoizes the inferred parquet schema.

A repeat read of unchanged files must run no Spark job and return the
same relation as a plain ``spark.read.parquet``; a rewritten file or a
flipped inference conf must be read with the schema it implies now.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from end_to_end_azure_databricks_data_engineering_project_spark.plans.queries import (
    _read_events_raw,
    _t,
)
from end_to_end_azure_databricks_data_engineering_project_spark.sources.readers import (
    read_parquet,
)


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "schema memo")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_read_runs_no_job_and_matches_plain_read(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, f"s{i}", i * 0.5) for i in range(20)], "k bigint, s string, x double"
    ).repartition(3).write.parquet(path)
    first, first_jobs = _jobs(spark, "memo-read-1", lambda: read_parquet(spark, path).schema)
    second, second_jobs = _jobs(spark, "memo-read-2", lambda: read_parquet(spark, path).schema)
    assert first_jobs  # inference runs a job: the memo has work to save
    assert second_jobs == []
    plain = spark.read.parquet(path)
    assert first == second == plain.schema
    assert sorted(read_parquet(spark, path).collect()) == sorted(plain.collect())


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(
        pa.table({"a": pa.array([3], pa.int64()), "b": pa.array(["x"])}), path
    )
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_binary_as_string_flip_changes_the_schema(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"v": pa.array([b"hi"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    was = spark.conf.get(key)
    try:
        got = []
        for flag in ("false", "true", "false", "true"):
            spark.conf.set(key, flag)
            got.append(dict(read_parquet(spark, path).dtypes)["v"])
        assert got == ["binary", "string", "binary", "string"]
        assert read_parquet(spark, path).collect()[0]["v"] == "hi"
    finally:
        spark.conf.set(key, was)


@pytest.mark.parametrize("unit,raw", [("ns", "bigint"), ("us", "timestamp_ntz")])
def test_events_ts_encoding_seen_through_the_memo(spark, tmp_path, unit, raw):
    """``_t`` branches on the loaded ``ts`` dtype; a remembered schema
    must report the file's true encoding, also after the file is
    rewritten in the other one."""
    def write(u):
        micros = [1_705_276_800_000_000, 1_705_276_800_000_001]
        scale = 1000 if u == "ns" else 1
        pq.write_table(
            pa.table({"event_id": pa.array([1, 2], pa.int64()),
                      "ts": pa.array([m * scale for m in micros], pa.timestamp(u))}),
            str(tmp_path / "events.parquet"),
        )

    other = {"ns": "us", "us": "ns"}[unit]
    other_raw = {"ns": "bigint", "us": "timestamp_ntz"}[other]
    write(unit)
    for _ in range(2):
        assert _read_events_raw(spark, str(tmp_path))[1] == raw
        df = _t(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert [str(r.ts) for r in df.orderBy("event_id").collect()] == [
            "2024-01-15 00:00:00", "2024-01-15 00:00:00.000001"]
    write(other)
    assert _read_events_raw(spark, str(tmp_path))[1] == other_raw
    assert _t(spark, str(tmp_path), "events").count() == 2

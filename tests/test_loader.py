"""The schema memo of ``sources.loader.load_table``: a memo hit must
read with the schema the same read would infer, launch no job, and miss
whenever the files or the inference confs change."""

from __future__ import annotations

import os
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from data_lake_with_spark_and_aws_s3_spark import session
from data_lake_with_spark_and_aws_s3_spark.sources import loader

from .conftest import SMOKE_SF_DIR
from .test_etl import _clear_job_group, _tracker

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _write(root, name: str, table: pa.Table, mtime: int | None = None) -> str:
    path = os.path.join(root, f"{name}.parquet")
    pq.write_table(table, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    return path


def test_rewritten_table_reinfers_schema(spark, tmp_path):
    """A new mtime with the same size, then a new size, each misses."""
    path = _write(tmp_path, "t", pa.table({"a": [1, 2]}), mtime=1_600_000_000)
    size = os.path.getsize(path)
    assert loader.load_table(spark, str(tmp_path), "t").columns == ["a"]

    # a column name of the same length: only the mtime tells the files apart
    path = _write(tmp_path, "t", pa.table({"b": [1, 2]}), mtime=1_600_000_100)
    assert os.path.getsize(path) == size
    assert loader.load_table(spark, str(tmp_path), "t").columns == ["b"]

    _write(tmp_path, "t", pa.table({"b": [1, 2], "c": ["x", "y"]}), mtime=1_600_000_100)
    df = loader.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y")]


def test_nanos_flag_is_part_of_the_key(spark, tmp_path, monkeypatch):
    """With the flag on, an INT64 TIMESTAMP(NANOS) ``ts`` reads as long
    nanos and is normalized to a timestamp; with it off the column has
    no Spark type and the read must fail as an uncached one does, not
    reuse the long schema inferred under the flag."""
    _write(tmp_path, "events", pa.table({
        "ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")),
        "x": [1],
    }))
    events = loader.load_table(spark, str(tmp_path), "events")
    assert events.dtypes == [("ts", "timestamp"), ("x", "bigint")]
    assert events.collect()[0]["x"] == 1

    monkeypatch.setitem(session.RUNTIME_CONFS, NANOS, "false")
    try:
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            loader.load_table(spark, str(tmp_path), "events")
    finally:
        spark.conf.set(NANOS, "true")


def test_memo_hit_launches_no_job(spark):
    first = loader.load_table(spark, SMOKE_SF_DIR, "lineitem")
    sc = spark.sparkContext
    sc.setJobGroup("load-table-memo-hit", "load_table")
    try:
        again = loader.load_table(spark, SMOKE_SF_DIR, "lineitem")
        assert _tracker(sc).getJobIdsForGroup("load-table-memo-hit") == []
    finally:
        _clear_job_group(sc)
    assert again.schema == first.schema
    raw = spark.read.parquet(f"{SMOKE_SF_DIR}/lineitem.parquet")
    assert loader.normalize_timestamps(raw).schema == again.schema


def test_concurrent_loads_get_equal_schemas(spark, tmp_path):
    """Eight threads miss on a fresh table at once; each gets the
    inferred schema and the entry they leave serves the next call."""
    _write(tmp_path, "wide", pa.table({
        "k": [1, 2, 3],
        "s": ["a", "b", "c"],
        "d": pa.array([1.5, 2.5, 3.5]),
        "t": pa.array([0, 1, 2], pa.timestamp("us")),
    }))
    expected = loader.normalize_timestamps(
        spark.read.parquet(str(tmp_path / "wide.parquet"))
    ).schema
    barrier = threading.Barrier(8, timeout=60)
    schemas, errors = [], []

    def load():
        try:
            barrier.wait()
            schemas.append(loader.load_table(spark, str(tmp_path), "wide").schema)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=load) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(schemas) == 8 and all(s == expected for s in schemas)

    sc = spark.sparkContext
    sc.setJobGroup("load-table-after-race", "load_table")
    try:
        assert loader.load_table(spark, str(tmp_path), "wide").schema == expected
        assert _tracker(sc).getJobIdsForGroup("load-table-after-race") == []
    finally:
        _clear_job_group(sc)


def test_missing_table_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        loader.load_table(spark, str(tmp_path), "orders")

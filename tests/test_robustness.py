"""Robustness surfaces a production lake needs beyond happy-path
queries: schema-on-read resilience to corrupt records, and in-plan
observability (df.observe) for data-quality counters that cost no
extra pass."""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F


def test_corrupt_json_records_are_quarantined(spark, tmp_path):
    """PERMISSIVE JSON scan (the reference's ingest mode): corrupt
    lines must land in _corrupt_record — not kill the job, not
    silently vanish — and good rows must parse fully."""
    p = tmp_path / "mixed.json"
    lines = [
        json.dumps({"id": 1, "name": "ok-1"}),
        '{"id": 2, "name": "broken',          # truncated JSON
        json.dumps({"id": 3, "name": "ok-3"}),
        "not json at all",
    ]
    p.write_text("\n".join(lines))
    df = (
        spark.read.schema("id long, name string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    ).cache()  # required: corrupt-record column can't be queried alone
    try:
        assert df.count() == 4
        good = df.filter(F.col("_corrupt_record").isNull())
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        assert sorted(r.id for r in good.collect()) == [1, 3]
        assert bad.count() == 2
        assert all(r.id is None for r in bad.collect())
    finally:
        df.unpersist()


def test_observe_metrics_free_data_quality_counters(spark, sf_dir):
    """df.observe attaches aggregate counters to a query WITHOUT a
    second scan: the observed metrics from the same single pass must equal
    an independently computed aggregate."""
    from pyspark.sql import Observation

    from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("dq")
    out = (
        li.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("l_discount") > 0.1).alias("n_bad_discount"),
            F.min("l_shipdate").alias("min_shipdate"),
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    result = {r.l_returnflag: r.n for r in out.collect()}
    metrics = obs.get
    assert metrics["n_rows"] == sum(result.values())
    assert metrics["n_bad_discount"] == li.filter(F.col("l_discount") > 0.1).count()
    assert metrics["min_shipdate"] == li.agg(F.min("l_shipdate")).collect()[0][0]


def test_results_identical_under_forced_spill(spark, sf_dir):
    """Spill-path correctness: at 100 TB the window buffers, external
    sorters, and sort-merge-join buffers WILL spill — the answers must
    not change when they do. Re-run three shuffle-heavy queries on a
    session clone with every spill threshold forced to a few rows and
    compare canonical results against the normal session."""
    from data_lake_with_spark_and_aws_s3_spark import REGISTRY
    from data_lake_with_spark_and_aws_s3_spark.session import apply_runtime_confs

    def canon(df):
        pdf = df.toPandas()
        cols = sorted(pdf.columns)
        return pdf[cols].sort_values(cols).reset_index(drop=True)

    spill = spark.newSession()
    apply_runtime_confs(spill)
    spill.conf.set("spark.sql.windowExec.buffer.spill.threshold", "7")
    spill.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "7")
    spill.conf.set("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "7")
    spill.conf.set("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", "7")
    spill.conf.set(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2"
    )

    for name in ("q_window_rank", "q1_pricing_summary", "q_collect_set_types"):
        spec = REGISTRY[name]
        a = canon(spec.fn(spark, sf_dir))
        b = canon(spec.fn(spill, sf_dir))
        assert a.equals(b), f"{name}: results drift under forced spilling"


def test_fan_out_target_comes_from_plan_size_stats(spark):
    """fan_out sizes its target from the optimizer's size estimate, a
    private API (``_jdf.queryExecution().optimizedPlan().stats()``). If
    a Spark upgrade breaks that call, fan_out silently falls back to
    defaultParallelism; a tiny one-file table tells the two apart."""
    from data_lake_with_spark_and_aws_s3_spark.sources import loader

    sf_dir = "/root/testdata/sf0.001"
    cores = spark.sparkContext.defaultParallelism
    size = os.path.getsize(os.path.join(sf_dir, "region.parquet"))
    expected = min(cores, max(2, math.ceil(size / loader._FAN_OUT_BYTES_PER_TASK)))
    if expected == cores:
        pytest.skip(f"size-derived target equals defaultParallelism ({cores})")
    region = loader.load_table(spark, sf_dir, "region")
    assert region.rdd.getNumPartitions() == 1
    assert loader.fan_out(region).rdd.getNumPartitions() == expected

"""Source/sink roundtrips (SURVEY.md §2.1): CSV scan/sink, JSON scan,
partitioned parquet sink — written then re-read, schema + content
checked. Writes aren't oracle-checkable (driver compares DataFrames),
so these live as engine-local tests."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_lake_with_spark_and_aws_s3_spark.etl import _read_json
from data_lake_with_spark_and_aws_s3_spark.sources.formats import (
    write_csv,
    write_partitioned_parquet,
)
from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table

SF = "/root/testdata/sf0.001"


def test_csv_roundtrip(spark, tmp_path):
    nation = load_table(spark, SF, "nation")
    path = str(tmp_path / "nation_csv")
    write_csv(nation, path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    back = spark.read.schema(schema).option("header", True).csv(path)
    assert back.count() == 25
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in nation.collect()
    )


def test_json_scan_with_schema(spark, tmp_path):
    d = tmp_path / "tree" / "a" / "b"
    os.makedirs(d)
    (d / "x.json").write_text('{"id": 1, "v": "ok"}\n{"id": 2, "v": null}\n{"id": "bad"}')
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    df = _read_json(spark, str(tmp_path / "tree"), schema)
    rows = df.collect()
    assert len(rows) == 3  # PERMISSIVE keeps the malformed row as nulls
    assert {r["id"] for r in rows} == {1, 2, None}


def test_partitioned_parquet_sink(spark, tmp_path):
    orders = load_table(spark, SF, "orders").withColumn("yr", F.year("o_orderdate"))
    path = str(tmp_path / "orders_part")
    write_partitioned_parquet(orders, path, ["yr"])
    # physical partition directories exist -> readers can prune
    years = {p for p in os.listdir(path) if p.startswith("yr=")}
    assert len(years) >= 5
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    # partition pruning: a yr filter must read only that directory
    one_year = back.filter(F.col("yr") == 1995)
    plan = one_year.explain(mode="formatted") or ""
    assert one_year.count() == orders.filter(F.year("o_orderdate") == 1995).count()


def test_partition_pruning_reaches_scan(spark, tmp_path, sf_dir):
    """Partitioned layout must buy partition PRUNING at read time: a
    filter on the partition column shows up as a PartitionFilter on
    the scan (whole directories skipped — the mechanism that turns a
    100 TB table into the one year you asked for), and the pruned
    read returns exactly the partition's rows."""
    from pyspark.sql import functions as F

    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan
    from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table

    o = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_yr")
    o.write.partitionBy("yr").parquet(path)

    back = spark.read.parquet(path).filter(F.col("yr") == 1997)
    plan = formatted_plan(back)
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and any("yr" in l for l in pf_lines), (
        f"partition filter did not reach the scan:\n{plan}"
    )
    # pruning must not change semantics
    expected = o.filter(F.col("yr") == 1997).count()
    assert back.count() == expected > 0


def test_write_file_count_control(spark, tmp_path, sf_dir):
    """Small-files control: repartition(n) before write must produce
    exactly n part files (the compaction knob — at 100 TB an
    uncontrolled write fans out one file per task and the object
    store drowns in small objects)."""
    import glob

    from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table

    n = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_4files")
    n.repartition(4).write.parquet(path)
    parts = glob.glob(path + "/part-*.parquet")
    assert len(parts) == 4, f"expected 4 part files, got {len(parts)}"


def test_python_stream_source_exactly_once_offsets(spark, tmp_path):
    """Custom Python STREAMING source (SimpleDataSourceStreamReader):
    run a few micro-batches into a checkpointed FILE sink, stop, then
    RESUME from the checkpoint — ids must stay contiguous and
    duplicate-free across the restart (the offset contract: progress
    is checkpointed, replays go through readBetweenOffsets with fixed
    bounds)."""
    import time

    from data_lake_with_spark_and_aws_s3_spark.sources.pysource import register

    register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def read_ids():
        try:
            return sorted(r.id for r in spark.read.parquet(out).collect())
        except Exception:
            return []

    def run_until_rows(min_rows: int, timeout_s: float = 40):
        q = (
            spark.readStream.format("synth_docs")
            .option("page", 7)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.time() + timeout_s
        while time.time() < deadline and len(read_ids()) < min_rows:
            time.sleep(0.3)
        q.stop()

    run_until_rows(14)
    first = read_ids()
    assert first and first == list(range(len(first))), f"gap/dup before restart: {first[:20]}"

    run_until_rows(len(first) + 7)  # resumes from checkpointed offset
    second = read_ids()
    assert len(second) > len(first), "no new rows after resume"
    assert second == list(range(len(second))), (
        f"restart re-emitted or skipped ids: {second[:30]}..."
    )


def test_dynamic_partition_pruning_star_join(spark, tmp_path, sf_dir):
    """DYNAMIC partition pruning: when the pruning predicate lives on
    the DIMENSION side of a star join (not on the fact's partition
    column itself), Spark must still prune fact partitions at runtime
    by reusing the broadcast of the filtered dimension as a
    PartitionFilter subquery. This is the mechanism that lets a
    100 TB date-partitioned fact read only the days a dim filter
    selects — static pruning can't see through the join."""
    from pyspark.sql import functions as F

    from data_lake_with_spark_and_aws_s3_spark.plans import formatted_plan
    from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table

    o = load_table(spark, sf_dir, "orders").withColumn("yr", F.year("o_orderdate"))
    fact_path = str(tmp_path / "fact_by_yr")
    o.write.partitionBy("yr").parquet(fact_path)
    dim_path = str(tmp_path / "dim_years")
    (
        o.select("yr")
        .distinct()
        .withColumn(
            "tag", F.when(F.col("yr") == 1996, F.lit("focus")).otherwise(F.lit("rest"))
        )
        .write.parquet(dim_path)
    )

    fact = spark.read.parquet(fact_path)
    # the predicate must be one Spark's isLikelySelective recognizes
    # (equality, IN, LIKE...) — a bare boolean attribute is not
    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "focus")
    joined = fact.join(F.broadcast(dim), "yr").agg(
        F.count("*").alias("n"), F.sum("o_orderkey").alias("s")
    )
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), (
        f"expected a dynamicpruningexpression PartitionFilter on the fact scan:\n{plan}"
    )
    row = joined.collect()[0]
    exp = o.filter("yr = 1996").agg(
        F.count("*").alias("n"), F.sum("o_orderkey").alias("s")
    ).collect()[0]
    assert (row["n"], row["s"]) == (exp["n"], exp["s"]) and row["n"] > 0

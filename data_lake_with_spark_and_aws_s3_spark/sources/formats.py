"""Source/sink coverage beyond the shared parquet loader
(SURVEY.md §2.1): CSV sink, partitioned parquet sink, and the S3
posture.

S3: every writer here takes a path string — `s3a://bucket/...`
works unchanged when hadoop-aws + credentials are present (the
reference's `dl.cfg` -> AWS_ACCESS_KEY_ID/SECRET env pattern,
template etl.py:~10-15). Nothing in this engine is local-path
specific.

Scale notes:
- partitioned parquet sinks give readers partition pruning; choose
  low-cardinality partition columns (year/month, not user_id) or the
  metadata listing dominates.
- CSV is a row format with no pushdown or pruning: a landing/export
  format, not a query format — load it once, write parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv(df: DataFrame, path: str) -> None:
    df.write.option("header", True).mode("overwrite").csv(path)


def write_partitioned_parquet(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Dynamic-partition parquet sink (template ~41, ~150). Each task
    writes one file per partition value it holds — repartition by the
    partition columns first if many tasks hold many values (small-file
    problem at scale)."""
    df.repartition(*partition_cols).write.partitionBy(*partition_cols).mode("overwrite").parquet(path)

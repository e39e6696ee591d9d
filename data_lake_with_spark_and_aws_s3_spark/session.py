"""SparkSession factory tuned for this engine.

Designed for two worlds:
- local test/bench runs (local[N], small shuffle-partition count), and
- a large cluster at ~100 TB (AQE on, skew-join handling, partition
  coalescing) — the same confs scale because AQE re-plans at runtime.

The nanosecond-parquet flag is REQUIRED to read events.parquet
(Spark 4.x rejects INT64 TIMESTAMP(NANOS) by default — SURVEY.md §1.2);
it is also applied at runtime by sources.loader for sessions we didn't
build (e.g. the driver's).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Confs that are safe (and necessary) to set on an already-running
# session via spark.conf.set — all are runtime SQL confs.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE coalesce the final shuffle of a persisted (pin()ed) plan:
    # Spark 4.1 defaults it off, so each such stage ran one task per
    # spark.sql.shuffle.partitions (operators/_pin.py)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow for toPandas()/pandas_udf round-trips (vectorized transfer).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


# Confs that results depend on (events.parquet decoding, UTC time
# functions): failing to set one of these must not go unnoticed.
_REQUIRED_CONFS = ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone")


def apply_runtime_confs(spark: SparkSession) -> None:
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            if k in _REQUIRED_CONFS:
                raise
            # a tuning conf this build will not change at runtime — keep going


# Local test scales: shuffle partitions ~ cores. On a real cluster AQE
# coalesces post-shuffle partitions anyway, so this is a ceiling for
# small data, not a limit at 100 TB.
_SHUFFLE_PARTITIONS = 32


def get_spark(app_name: str = "data-lake-spark-engine") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "32"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(_SHUFFLE_PARTITIONS))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # getOrCreate applies these to an already-running session too (as
    # its modifiable settings), so no apply_runtime_confs call follows
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

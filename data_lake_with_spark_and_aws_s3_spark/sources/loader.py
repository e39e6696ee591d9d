"""Shared table loader for the driver-generated testdata (TESTDATA.md).

Reference parity: the reference reads schema-on-read JSON from S3 and
its own partitioned Parquet back (`etl.py:~33,~78,~130` reconstructed —
SURVEY.md §2.1; checkout empty, §0). Here the canonical inputs are the
driver's parquet tables; S3 access is the same `spark.read.parquet`
with an `s3a://` path, so nothing below is local-path-specific.

Scale notes (100 TB posture):
- Parquet scan goes through the DataSource V2 vectorized reader;
  filters/projections in downstream operators push into the scan
  (check with .explain: PushedFilters / ReadSchema).
- The events nanos fix is a column rewrite AFTER the scan — it does not
  break pushdown on other columns and keeps partition pruning intact.
- No .cache() here: at 100 TB you want the scan re-planned per query
  with that query's pruning, not a materialized generic copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_timestamps(df: DataFrame, nanos_cols: tuple[str, ...] = ("ts",)) -> DataFrame:
    """Normalize timestamp columns to session-UTC TIMESTAMP regardless
    of how the driver generated the parquet (the generator has shipped
    both encodings across rounds):

    - INT64 TIMESTAMP(NANOS): with spark.sql.legacy.parquet.nanosAsLong
      =true it reads as long nanos -> exact integer division to µs
      (`div`, not `/` — float division loses sub-µs precision at 1e18
      ns), then timestamp_micros. Only applied to known-nanos columns
      (`nanos_cols`) so genuine bigint columns are untouched.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
      TIMESTAMP_NTZ, which time functions like unix_micros reject ->
      cast to TIMESTAMP. With spark.sql.session.timeZone=UTC the wall
      clock is reinterpreted as the same UTC instant, matching DuckDB's
      naive-timestamp read of the identical column bit-for-bit.
    """
    for col, dt in df.dtypes:
        if dt == "bigint" and col in nanos_cols:
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)  # driver's session may lack the nanos flag
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_timestamps(df)


# Compressed input bytes one fan-out task should carry. The fanned
# consumers are the HEAVY per-row stages (shingling, hashing, HOF
# folds, mapInPandas) whose working set expands the scan bytes far
# beyond the guide §2.2 sizing intuition — MEASURED this round: at
# 64 KB/task (10 partitions for the sf0.1 corpus) q_minhash_lsh's
# double hash pipeline DOUBLED (5.3 s -> 11.7 s isolated median); the
# md5/xxhash stages productively use every core even on a 600 KB
# input. 16 KB/task keeps every bench-scale fan-out at full core
# count (identical to the round-8 behavior) while still flooring the
# task count on genuinely tiny inputs (sf0.01 corpus: 5 tasks instead
# of 32 — less launch overhead than work). At 100 TB fan_out never
# fires at all (the trigger below), so this constant only shapes
# degenerate one-file layouts.
_FAN_OUT_BYTES_PER_TASK = 16 * 1024


def fan_out(df: DataFrame) -> DataFrame:
    """Adaptive scan-parallelism repair for heavy per-row compute
    (optimization guide §2.5, "input skew: one huge unsplittable file
    ... repartition immediately after the read").

    The testdata tables are single-file, SINGLE-ROW-GROUP parquet, so
    a scan is one task no matter what maxPartitionBytes says — every
    expensive per-row expression (shingling, hashing, HOF folds,
    mapInPandas) runs on ONE core of the local[N] session. When the
    scan yields far fewer partitions than the session has cores,
    round-robin repartition BEFORE the heavy compute; rows move once,
    while the compute parallelizes. Measured at sf0.1: the 4-gram
    shingle stage fell 2.9 s -> 1.8 s from this alone (then to 0.65 s
    with the zip-form builder).

    Round 9 dial (VERDICT r8 #7): r8 always fanned to
    defaultParallelism; the driver's 8-vs-32-core scaling block showed
    32-way task launches exceeding the per-row work for the lighter
    consumers (pretrain 0.32, cosine 0.40). The target is now ALSO
    input-size-derived — min(defaultParallelism, plan-stats bytes /
    _FAN_OUT_BYTES_PER_TASK) — so a 600 KB corpus fans ~10-way at any
    core count (work per task roughly constant across machine sizes)
    while anything >= cores x 64 KB still uses every core.

    Scale honesty: trigger and target are derived (scan partitions vs
    defaultParallelism; optimizer size stats), not local constants. A
    100 TB corpus scan has orders of magnitude more splits than cores,
    so this is a NO-OP there — no shuffle is added on real layouts; it
    fires only on degenerate ones (one unsplittable file), where
    moving the bytes once is exactly the guide's prescription.
    Round-robin placement is deterministic under Spark's
    sort-before-repartition default (SPARK-23207), and downstream
    results are order-independent anyway (aggregates / joins /
    totally-ordered windows)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    try:  # optimizer size estimate: no job, one py4j round-trip
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = 0
    if size > 0:
        target = min(target, max(2, -(-size // _FAN_OUT_BYTES_PER_TASK)))
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for spark.sql queries)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs

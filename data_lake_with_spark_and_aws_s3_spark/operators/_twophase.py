"""Two-phase distributed total-order primitives (SURVEY.md §2.6).

A bare `Window.orderBy(...)` with no partition key makes Spark funnel
every input row through ONE task — the classic scale trap
(tests/test_plans.py lints for it registry-wide). These helpers build
the distributed equivalent once. Every range-partitioned ranking or
running sum in the registry calls global_order_stats; only
analytics.q_skyline hand-rolls the shape, for a running max, which
this helper does not compute:

  1. repartitionByRange on the sort key — partition i's keys all
     precede partition i+1's (sampled boundaries);
  2. per-partition local row_number / running sums, windows
     partitioned by spark_partition_id() so every partition works in
     parallel;
  3. per-partition totals -> exclusive running prefix offsets, a
     window over <= num_partitions rows (the one place a keyless
     window is fine — it is on the plan-lint allowlist);
  4. global value = broadcast offset + local value.

Sampled range boundaries are run-dependent, but whenever the sort key
is TOTAL (unique tie-break included) the OUTPUT is deterministic:
offsets + local ranks reproduce exactly ROW_NUMBER()/running sums
regardless of boundary placement.

Cost: one range exchange over the data + one tiny offset exchange;
every data-proportional stage is partition-parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_N_RANGE_PARTS = 16


def global_order_stats(
    df: DataFrame,
    order_cols: list[Column],
    running_sums: dict[str, Column] | None = None,
    rn_col: str | None = "rn",
    parts: int = _N_RANGE_PARTS,
) -> DataFrame:
    """Attach a global row number (`rn_col`) and/or inclusive global
    running sums (one output column per `running_sums` entry, summing
    the given expression in `order_cols` order) to `df` WITHOUT a
    single-task global window.

    `order_cols` must be a total order (include a unique tie-break)
    for the output to be deterministic. Returns the input columns
    plus the requested stat columns; the helper's internal pid /
    local columns are dropped.

    CONTRACT: every `running_sums` expression must be of integral type
    (byte/short/int/long). Both the local-window and per-partition
    total stages cast the sum to `long` so exact-integer arithmetic
    survives the two-phase split; a fractional expression would be
    silently truncated, so it is rejected here at analysis time.
    """
    running_sums = running_sums or {}
    _integral = ("byte", "tinyint", "short", "smallint", "int", "integer",
                 "bigint", "long")
    for name, expr in running_sums.items():
        dt = df.select(expr.alias("_tp_chk")).schema[0].dataType.simpleString()
        if dt not in _integral:
            raise TypeError(
                f"global_order_stats running_sums[{name!r}] must be an "
                f"integral expression (got {dt}); the helper's exact "
                f"long-cast prefix arithmetic would truncate it"
            )
    ranged = df.repartitionByRange(parts, *order_cols)
    # CRITICAL: materialize (pid, row) ONCE. The offsets branch runs in
    # a separate broadcast job from the local-window branch; two
    # independent materializations of the range exchange can assign
    # DIFFERENT partition ids (sampled boundaries + runtime re-planning
    # differences between jobs), and offsets keyed under partitioning A
    # joined against local ranks under partitioning B silently corrupt
    # the totals — observed as a nondeterministic off-by-a-few at
    # sf0.1 in round 7. localCheckpoint pins one pid assignment that
    # both branches read.
    part = (
        ranged.withColumn("_tp_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w_local = Window.partitionBy("_tp_pid").orderBy(*order_cols)

    local = part
    local_cols: list[str] = []
    if rn_col is not None:
        local = local.withColumn("_tp_local_rn", F.row_number().over(w_local))
        local_cols.append("_tp_local_rn")
    for name, expr in running_sums.items():
        local = local.withColumn(
            f"_tp_local_{name}", F.sum(expr).over(w_local).cast("long")
        )
        local_cols.append(f"_tp_local_{name}")

    # per-partition totals -> exclusive prefix offsets. The keyless
    # window here runs over <= `parts` rows — bounded by construction.
    aggs = [F.count(F.lit(1)).alias("_tp_n")]
    for name, expr in running_sums.items():
        aggs.append(F.sum(expr).cast("long").alias(f"_tp_t_{name}"))
    w_off = Window.orderBy("_tp_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = part.groupBy("_tp_pid").agg(*aggs)
    off_cols = ["_tp_pid"]
    if rn_col is not None:
        offsets = offsets.withColumn(
            "_tp_off_rn", F.coalesce(F.sum("_tp_n").over(w_off), F.lit(0))
        )
        off_cols.append("_tp_off_rn")
    for name in running_sums:
        offsets = offsets.withColumn(
            f"_tp_off_{name}",
            F.coalesce(F.sum(f"_tp_t_{name}").over(w_off), F.lit(0)).cast("long"),
        )
        off_cols.append(f"_tp_off_{name}")

    out = local.join(F.broadcast(offsets.select(*off_cols)), "_tp_pid")
    if rn_col is not None:
        out = out.withColumn(
            rn_col, (F.col("_tp_off_rn") + F.col("_tp_local_rn")).cast("long")
        )
    for name in running_sums:
        out = out.withColumn(
            name,
            (F.col(f"_tp_off_{name}") + F.col(f"_tp_local_{name}")).cast("long"),
        )
    drop = ["_tp_pid"] + local_cols + [c for c in off_cols if c != "_tp_pid"]
    return out.drop(*drop)

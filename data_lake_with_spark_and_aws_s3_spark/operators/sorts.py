"""Global sort via range partitioning (SURVEY.md §2.6).

A global ORDER BY range-partitions on the sort key (sampled
boundaries) then sorts within partitions — the only scalable total
order. The driver's value-hash is order-insensitive, so the oracle
checks CONTENT while the plan test (tests/test_plans.py) checks the
physical shape: RangePartitioning exchange + in-partition Sort, no
single-task collapse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.loader import load_table
from ._twophase import global_order_stats


@query(
    "q_global_sort",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
    tags=("sort", "range-partition"),
)
def q_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Totally-ordered open orders by (orderdate, orderkey). The sort
    is real work in the plan (range exchange + sort) even though the
    oracle hash can't observe row order — plan-shape asserted
    separately."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy("o_orderdate", "o_orderkey")
    )


@query(
    "q_global_row_number",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                AS BIGINT) AS rn
    FROM orders
    """,
    tags=("sort", "row-number", "range-partition"),
)
def q_global_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row numbers 1..N in a total order WITHOUT the
    single-task collapse of `row_number() OVER (ORDER BY ...)` with no
    partition key (Spark plans that as one task holding the whole
    table — the classic scale trap this operator replaces).

    The distributed form is _twophase.global_order_stats: range
    partition on the sort key, parallel per-partition row numbers,
    per-partition counts -> offsets over <= 16 rows, broadcast back.
    Sampled range boundaries are run-dependent, but the OUTPUT is
    deterministic: the sort key (totalprice DESC, orderkey) is unique,
    so offsets + local ranks reproduce exactly ROW_NUMBER() — which
    the oracle checks value-for-value. Cost: one range exchange + one
    tiny offset exchange; every stage is partition-parallel."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return global_order_stats(o, [F.desc("o_totalprice"), F.asc("o_orderkey")])

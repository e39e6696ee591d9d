"""Physical-plan inspection helpers (SURVEY.md §4): the engine's
"is this the plan I'd want at 100 TB" checks, usable in tests and at
the REPL.

These read `df.explain("formatted")` output — the same surface a human
tunes with — and answer the questions that matter at scale:
  - did my filter reach the parquet scan? (has_pushed_filter)
  - am I reading only the columns I project? (read_schema_columns)
  - did the small side broadcast? (has_broadcast_join)
  - is my top-k a TakeOrdered, not a global sort? (has_take_ordered)
  - how many shuffles does this plan pay? (count_exchanges)
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if a parquet scan advertises a pushed filter containing
    `fragment` (e.g. 'l_shipdate' or 'LessThanOrEqual')."""
    plan = formatted_plan(df)
    return any(
        "PushedFilters" in line and fragment in line for line in plan.splitlines()
    )


def read_schema_columns(df: DataFrame) -> list[set]:
    """Column sets each scan actually reads (column-pruning check):
    one set per scan's ReadSchema line."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema"):
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols = {c.split(":")[0].strip() for c in inner.split(",") if ":" in c}
            out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in formatted_plan(df)


def count_scans(df: DataFrame) -> int:
    """Number of distinct file-scan nodes. Each formatted-plan node
    appears twice (tree line + numbered detail section); count only the
    detail headers so one scan counts once. A query that should read a
    table once but plans two scans will recompute the whole upstream
    stage per branch — the classic self-join-instead-of-window smell."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(") and line.strip().split(") ", 1)[-1].startswith("Scan ")
    )


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count in the (initial) plan. AQE may coalesce partitions
    at runtime but each Exchange is still a full data movement — the
    number to minimize."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(") and "Exchange" in line and "Reused" not in line
    )


def count_keyless_windows(df: DataFrame) -> int:
    """Number of Window exec nodes with an EMPTY partition spec — the
    single-task collapse trap: Spark plans `OVER (ORDER BY ...)` with
    no PARTITION BY as Exchange SinglePartition + one task holding
    every row that reaches it. Fine over a bounded frame (days, bins,
    constant grids, <= num_partitions offset rows); fatal over a
    data-proportional one.

    Detection: in `explain("formatted")` detail sections, a Window
    node's Arguments line is `[exprs], [partitionSpec], [orderSpec]`
    when fully keyed but drops each empty list: keyless-with-order is
    `[exprs], [orderSpec]`, keyed-without-order is `[exprs],
    [partitionSpec]` and `OVER ()` (neither) is `[exprs]`. One
    top-level group, or two whose SECOND contains a sort direction
    (ASC/DESC), = keyless — verified against Spark 4.1 output."""
    return count_keyless_windows_in(formatted_plan(df))


def count_keyless_windows_in(plan_text: str) -> int:
    """String-level form of count_keyless_windows for callers that
    already hold the formatted plan (avoids re-planning)."""
    plan = plan_text.splitlines()
    n = 0
    for i, line in enumerate(plan):
        s = line.strip()
        if not (s.startswith("(") and s.split(") ", 1)[-1] == "Window"):
            continue
        for detail in plan[i + 1 : i + 6]:
            d = detail.strip()
            if not d.startswith("Arguments:"):
                continue
            depth, groups, buf = 0, [], []
            for ch in d:
                if ch == "[":
                    if depth == 0:
                        buf = []
                    depth += 1
                    if depth == 1:
                        continue
                elif ch == "]":
                    depth -= 1
                    if depth == 0:
                        groups.append("".join(buf))
                        continue
                if depth >= 1:
                    buf.append(ch)
            if len(groups) == 1 or (
                len(groups) == 2 and (" ASC" in groups[1] or " DESC" in groups[1])
            ):
                n += 1
            break
    return n


def executed_plan(df: DataFrame) -> str:
    """Run the query, then return the FINAL adaptive plan. AQE rewrites
    (ReusedExchange, skew-join splits, runtime broadcast promotion)
    only appear post-execution — use this for assertions about what
    actually ran, formatted_plan for static shape."""
    df.collect()
    return formatted_plan(df)

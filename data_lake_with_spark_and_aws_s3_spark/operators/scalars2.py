"""Second scalar/coverage batch (SURVEY.md §2.2 predicate forms,
§2.8 map/array families, §2.4 first/last-by, §2.11 UDF surface).

The two UDF queries are the deliberate exception to the builtins-only
rule — they exist to prove the Arrow-vectorized slow path WORKS and is
oracle-checkable, while their docstrings say why you'd avoid them on a
hot path (per-batch Python worker hop; ~10-100x slower than codegen
for expressible logic — SURVEY.md §2.11).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textops import words
from ..registry import query
from ..sources.loader import load_table


@query(
    "q_filter_predicates",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      AND c_acctbal BETWEEN 1000 AND 9000
      AND c_name LIKE 'Customer#%'
      AND regexp_matches(c_name, '[02468]$')
      AND c_acctbal IS NOT NULL
    """,
    tags=("filter", "predicates"),
)
def q_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate forms in one conjunction: isin, between, LIKE, rlike,
    null test. isin/between/like push into the parquet scan; the regex
    evaluates post-scan (not a pushdown-able form)."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
        & F.col("c_acctbal").between(1000, 9000)
        & F.col("c_name").like("Customer#%")
        & F.col("c_name").rlike("[02468]$")
        & F.col("c_acctbal").isNotNull()
    ).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")


@query(
    "q_map_funcs",
    oracle="""
    SELECT event_id,
           array_to_string(json_keys(props), ',') AS prop_keys,
           CAST(props->>'k' AS BIGINT) AS k_value,
           CAST(len(json_keys(props)) AS BIGINT) AS n_keys
    FROM events
    """,
    tags=("scalar", "map", "json"),
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family over JSON props: from_json to MapType, map_keys,
    element_at — the schema-on-read path for semi-structured columns
    (vs get_json_object's path extraction in q_json_extract)."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return e.select(
        "event_id",
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("prop_keys"),
        F.element_at(m, "k").alias("k_value"),
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
    )


@query(
    "q_array_funcs",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           array_to_string(string_split(text, ' ')[1:3], ' ') AS first3,
           array_to_string(list_sort(string_split(text, ' ')[1:3]), ' ') AS first3_sorted,
           string_split(text, ' ')[-1] AS last_token,
           list_contains(string_split(text, ' '), 'data') AS has_data
    FROM documents
    """,
    tags=("scalar", "array"),
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family: size, slice, sort_array, element_at(-1),
    array_contains — all HOF-adjacent builtins over split() arrays."""
    d = load_table(spark, sf_dir, "documents")
    arr = words()
    return d.select(
        "doc_id",
        F.size(arr).cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.slice(arr, 1, 3)).alias("first3"),
        F.concat_ws(" ", F.sort_array(F.slice(arr, 1, 3))).alias("first3_sorted"),
        F.element_at(arr, -1).alias("last_token"),
        F.array_contains(arr, "data").alias("has_data"),
    )


@query(
    "q_first_last_by",
    oracle="""
    SELECT user_id,
           arg_min(event_type, (epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000)
                               * 1000000 + event_id) AS first_type,
           arg_max(event_type, (epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000)
                               * 1000000 + event_id) AS last_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    tags=("agg", "first-last"),
)
def q_first_last_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event type per user via min_by/max_by over a
    composite (ts, event_id) ordering key packed into one int64.
    The key rebases epoch-us to the stream's start (2024-01-01) so
    the * 1e6 pack stays under 2^63 (raw epoch-us would overflow).
    One hash aggregate — no window shuffle+sort for this shape."""
    e = load_table(spark, sf_dir, "events")
    base = 1_704_067_200_000_000  # 2024-01-01 in epoch micros
    key = (F.unix_micros(F.col("ts")) - base) * 1_000_000 + F.col("event_id")
    return e.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("first_type"),
        F.max_by("event_type", key).alias("last_type"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q_pandas_udf",
    oracle="""
    SELECT doc_id,
           reverse(text) AS reversed_text,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
    tags=("udf", "pandas-udf"),
)
def q_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas_udf (SURVEY.md §2.11) — proved
    against the oracle's builtin reverse(). Deliberately simple: the
    point is the Arrow batch path, not the function. For logic a
    builtin can express, the builtin wins by the cost of the
    JVM->Python->JVM Arrow hop."""

    @F.pandas_udf("string")
    def py_reverse(s: pd.Series) -> pd.Series:
        return s.map(lambda x: x[::-1])

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        py_reverse("text").alias("reversed_text"),
        F.length("text").cast("long").alias("n_chars"),
    )


@query(
    "q_apply_in_pandas_slope",
    oracle="""
    SELECT user_id,
           ROUND(regr_slope(value, epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000.0), 6)
             AS value_slope_per_day,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    tags=("udf", "udaf", "apply-in-pandas"),
)
def q_apply_in_pandas_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped aggregation (UDAF surface, SURVEY.md §2.11):
    per-user least-squares slope of value over time, computed in a
    grouped applyInPandas with numpy. Checked against DuckDB's
    regr_slope (round 6 absorbs the ~1e-12 formula-order drift).

    Scale: one shuffle on user_id; each group fits a pandas frame —
    the applyInPandas contract. For groups too big for memory, fall
    back to streaming co-moment aggregation with builtins
    (covar_pop/var_pop), which this result is numerically equal to."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts")) / 86_400_000_000.0).alias("t_days"),
        "value",
    )

    def slope(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        t, v = pdf["t_days"].to_numpy(), pdf["value"].to_numpy()
        n = len(t)
        denom = (t * t).sum() - t.sum() ** 2 / n
        s = ((t * v).sum() - t.sum() * v.sum() / n) / denom if denom != 0 else float("nan")
        return pd.DataFrame(
            {"user_id": [pdf["user_id"].iloc[0]], "value_slope_per_day": [round(s, 6)],
             "n_events": [n]}
        )

    return e.groupBy("user_id").applyInPandas(
        slope, schema="user_id long, value_slope_per_day double, n_events long"
    )


@query(
    "q_map_in_arrow",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(strlen(text) - length(text) AS BIGINT) AS n_multibyte_extra
    FROM documents
    """,
    tags=("udf", "map-in-arrow"),
)
def q_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow (SURVEY.md §2.11) — the zero-copy end of the Python
    interop matrix: batches arrive as pyarrow.RecordBatch, compute runs
    in Arrow kernels (binary_length on the utf8->binary view vs
    utf8_length), no pandas materialization at all. Completes the
    ladder pandas_udf -> applyInPandas -> mapInPandas -> mapInArrow;
    for byte-level feature extraction over 100 TB this path has the
    lowest serialization tax Python can get.

    Oracle: DuckDB strlen() is bytes, length() is characters —
    byte/char counts are encoding facts, identical cross-engine."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def byte_stats(batches):
        for batch in batches:
            text = batch.column("text")
            n_bytes = pc.binary_length(text.cast(pa.binary()))
            n_chars = pc.utf8_length(text)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    n_bytes.cast(pa.int64()),
                    n_chars.cast(pa.int64()),
                    pc.subtract(n_bytes, n_chars).cast(pa.int64()),
                ],
                names=["doc_id", "n_bytes", "n_chars", "n_multibyte_extra"],
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(
        byte_stats,
        schema="doc_id long, n_bytes long, n_chars long, n_multibyte_extra long",
    )


@query(
    "q_cogroup_pandas",
    oracle="""
    WITH ev AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(19,2))), 2) AS DOUBLE) AS event_value
      FROM events GROUP BY user_id
    ), ords AS (
      SELECT o_custkey AS user_id, COUNT(*) AS n_orders
      FROM orders WHERE o_custkey < 150 GROUP BY o_custkey
    )
    SELECT COALESCE(ev.user_id, ords.user_id) AS user_id,
           CAST(COALESCE(ev.n_events, 0) AS BIGINT) AS n_events,
           COALESCE(ev.event_value, 0.0) AS event_value,
           CAST(COALESCE(ords.n_orders, 0) AS BIGINT) AS n_orders
    FROM ev FULL OUTER JOIN ords ON ords.user_id = ev.user_id
    """,
    tags=("udf", "cogroup", "apply-in-pandas"),
)
def q_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cogroup().applyInPandas (SURVEY.md §2.11, the two-sided grouped
    UDF): events and orders co-partitioned on the shared key arrive as
    a pandas frame PAIR per key — the escape hatch for per-key merge
    logic no join expresses (trajectory alignment, per-entity
    reconciliation). Here the merge is deliberately oracle-expressible
    (full-outer aggregate semantics incl. keys present on only one
    side) so the Arrow pair-delivery path itself is what's verified.
    One shuffle per side on the key — same economics as a shuffle
    join; the decimal sum keeps event_value exact."""
    e = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(19,2)")).alias("val_dec"),
        )
        .select("user_id", "n_events", F.col("val_dec").cast("decimal(38,2)").cast("double").alias("event_value"))
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 150)

    def merge(ev: pd.DataFrame, ords: pd.DataFrame) -> pd.DataFrame:
        uid = int(ev["user_id"].iloc[0]) if len(ev) else int(ords["o_custkey"].iloc[0])
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_events": [int(ev["n_events"].iloc[0]) if len(ev) else 0],
                "event_value": [float(ev["event_value"].iloc[0]) if len(ev) else 0.0],
                "n_orders": [len(ords)],
            }
        )

    return (
        e.groupby("user_id")
        .cogroup(o.groupby("o_custkey"))
        .applyInPandas(
            merge,
            schema="user_id long, n_events long, event_value double, n_orders long",
        )
    )


@query(
    "q_apply_in_arrow",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(user_id AS BIGINT)) AS BIGINT) AS uid_sum,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events
    GROUP BY event_type
    """,
    tags=("udf", "apply-in-arrow"),
)
def q_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().applyInArrow — the zero-copy GROUPED UDF (each key's
    rows arrive as one pyarrow.Table; compute runs in Arrow kernels).
    Completes the grouped half of the interop matrix next to
    applyInPandas/cogroup; integer kernel sums keep the oracle exact.
    Same shuffle economics as any grouped UDF: one key shuffle, whole
    group materialized per call — aggregate first when a builtin can."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(table: pa.Table) -> pa.Table:
        return pa.table(
            {
                "event_type": pa.array([table.column("event_type")[0].as_py()], pa.string()),
                "n_events": pa.array([table.num_rows], pa.int64()),
                "uid_sum": pa.array([pc.sum(table.column("user_id")).as_py()], pa.int64()),
                "max_event_id": pa.array([pc.max(table.column("event_id")).as_py()], pa.int64()),
            }
        )

    e = load_table(spark, sf_dir, "events").select("event_type", "user_id", "event_id")
    return e.groupBy("event_type").applyInArrow(
        stats, schema="event_type string, n_events long, uid_sum long, max_event_id long"
    )


@query(
    "q_ewma_recurrence",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT user_id, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), r AS (
      SELECT user_id, event_id, rn, v AS s FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.event_id, e.rn, (r.s + e.v) // 2
      FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id, event_id, CAST(s AS BIGINT) AS ewma_cents
    FROM r
    """,
    tags=("udf", "stateful", "recurrence", "timeseries"),
)
def q_ewma_recurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered per-key recurrence — the operator class that pure SQL
    windows CANNOT express in Spark (each state depends on the
    previous OUTPUT, not the previous input): integer-exact EWMA
    s_t = (s_{t-1} + v_t) div 2 over cent-scaled event values in
    event-time order. Implemented as grouped applyInPandas holding one
    user's ordered history per batch; the oracle replays the identical
    recurrence with a DuckDB recursive CTE, so a Python stateful
    operator gets a full value-for-value cross-engine check (the
    integer div makes it exact — no float accumulation drift).

    Scale: one shuffle on user_id, Arrow-batched per group, state is
    O(1) per row. The streaming twin of this shape is
    transformWithStateInPandas (streaming/stateful.py); for groups too
    large for one pandas frame, chunk by time and carry s across
    chunks (the recurrence needs only the last state)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("v"),
    )

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        s, out = None, []
        for v in pdf["v"].to_numpy():
            v = int(v)
            if s is None:
                s = v
            else:
                # Truncate toward zero to mirror DuckDB's `//` (Python's
                # `//` FLOORS: -3//2 = -2 vs DuckDB -1) — identical for the
                # current non-negative values, exact either way if the
                # fixtures ever ship negatives.
                t = s + v
                s = t // 2 if t >= 0 else -((-t) // 2)
            out.append(s)
        return pd.DataFrame(
            {"user_id": pdf["user_id"].to_numpy(), "event_id": pdf["event_id"].to_numpy(),
             "ewma_cents": out}
        )

    return e.groupBy("user_id").applyInPandas(
        ewma, schema="user_id long, event_id long, ewma_cents long"
    )


@query(
    "q_stack_inline",
    oracle="""
    SELECT r_regionkey, 'name' AS attr, r_name AS val FROM region
    UNION ALL
    SELECT r_regionkey, 'key_str' AS attr, CAST(r_regionkey AS VARCHAR) AS val
    FROM region
    """,
    tags=("scalar", "generator", "stack"),
)
def q_stack_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-generator builtins (SURVEY.md §2.8 tail): stack(n, ...)
    turns N column pairs into N rows per input row — the inline
    wide-to-long generator (explode's fixed-arity cousin, what
    unpivot compiles to). The oracle is the UNION ALL it desugars
    to. Map-side only: no shuffle, generators run inside codegen."""
    r = load_table(spark, sf_dir, "region")
    return r.select(
        "r_regionkey",
        F.expr(
            "stack(2, 'name', r_name, 'key_str', CAST(r_regionkey AS STRING))"
        ).alias("attr", "val"),
    )

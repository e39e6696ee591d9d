"""Skew mitigation primitives (SURVEY.md §4.3 posture): salted joins
for hot keys.

These are library operators with equivalence/plan tests rather than
oracle queries — their OUTPUT equals a plain join's; what changes is
the physical distribution, which the driver's value-hash can't see
but a 1000-executor cluster certainly does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_SALT = 16


def salted_join(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """Inner equi-join with the LEFT side's hot keys spread over
    `_SALT` sub-partitions and the RIGHT side replicated `_SALT` times.

    Use when one key dominates the left side (e.g. a null-ish default
    id holding 10% of a 100 TB fact): a plain shuffle join puts that
    whole key on one task; salting divides it by `_SALT` at the cost
    of replicating the right side's rows for that key.

    AQE's skew-join handles sort-merge skew automatically for many
    cases — reach for explicit salting when AQE can't (aggregations
    after the join keyed on the same column, or stubborn plans).
    Result is row-identical to left.join(right, key).
    """
    lsalted = left.withColumn("_salt", (F.rand(seed=42) * _SALT).cast("int"))
    rrepl = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1)))
    )
    return lsalted.join(rrepl, [key, "_salt"], "inner").drop("_salt")


from ..functions.numeric import dec, money_sum  # noqa: E402
from ..registry import query  # noqa: E402
from ..sources.loader import load_table  # noqa: E402


@query(
    "q_salted_join_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,2)))
                AS DECIMAL(38,2)) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("skew", "salted-join", "plan"),
)
def q_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority through a SALTED fact-to-fact join:
    the left side's keys are spread over 16 salt sub-partitions and
    the right side replicated 16x, so no single join key can pin one
    task (the hot-key mitigation AQE's skew split can't reach when a
    downstream aggregate re-keys on the same column). The oracle is
    the PLAIN join+aggregate — parity proves salting is row-identical,
    which is the entire point of the transform; the salt column is
    random per run and never observable.

    This registers the skew.py primitive (already equivalence- and
    plan-tested in tests/test_skew_bucketing.py) on the driver's
    oracle surface. This corpus's l_orderkey is uniform — the query
    demonstrates the mechanism, not a measured win; the measured-skew
    counterpart is the AQE forceOptimizeSkewedJoin test. Cost model at
    100 TB: salting multiplies the small side's shuffle by `_SALT`
    (16x here) to divide the hot key's task time by the same factor —
    apply per hot key (filtered split) in production, not blanket."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", dec("l_extendedprice").alias("price")
    )
    # shuffle_hash hint: without it Catalyst happily BROADCASTS the
    # 16x-replicated right side (a ~300 MiB build at sf0.1, fatal at
    # scale) — salting only means anything on a shuffle join.
    o = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
        .hint("shuffle_hash")
    )
    joined = salted_join(li, o, "l_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        money_sum(F.col("price"), "revenue"),
    )


def _skew_audit_sql(table: str, key: str, label: str) -> str:
    """One key's skew profile (dialect-shared): frequency table ->
    histogram of frequencies -> exact p99 order statistic by rank."""
    return f"""
      SELECT '{label}' AS key_name,
             CAST(SUM(f * cnt_keys) AS BIGINT) AS n_rows,
             CAST(SUM(cnt_keys) AS BIGINT) AS n_keys,
             CAST(MAX(f) AS BIGINT) AS max_freq,
             CAST((1000000 * MAX(f)) // SUM(f * cnt_keys) AS BIGINT)
               AS top1_share_ppm,
             CAST((1000000 * MAX(f) * SUM(cnt_keys))
                  // SUM(f * cnt_keys) AS BIGINT)
               AS skew_ratio_ppm,
             CAST(MIN(CASE WHEN cum_keys * 100 >= 99 * n_keys_t
                           THEN f END) AS BIGINT) AS p99_freq
      FROM (
        SELECT f, cnt_keys,
               SUM(cnt_keys) OVER (ORDER BY f) AS cum_keys,
               SUM(cnt_keys) OVER () AS n_keys_t
        FROM (
          SELECT f, CAST(COUNT(*) AS BIGINT) AS cnt_keys
          FROM (SELECT {key}, CAST(COUNT(*) AS BIGINT) AS f
                FROM {table} GROUP BY {key})
          GROUP BY f
        )
      ) t CROSS JOIN (SELECT 1) one
      GROUP BY key_name
    """


@query(
    "q_join_key_skew_audit",
    oracle=f"""
    {_skew_audit_sql("lineitem", "l_orderkey", "lineitem.l_orderkey")}
    UNION ALL
    {_skew_audit_sql("events", "user_id", "events.user_id")}
    UNION ALL
    {_skew_audit_sql("documents", "source", "documents.source")}
    """,
    tags=("skew", "audit", "planning", "scale"),
)
def q_join_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit across three prospective shuffle keys —
    the pre-flight report that decides whether a join needs salting,
    AQE skew splits, or a broadcast: rows, distinct keys, the hottest
    key's frequency and row share, skew ratio (max/mean in ppm), and
    the exact p99 key frequency from the histogram-of-frequencies
    (rank order statistic — never a global sort of keys).

    Scale: per key, one hash aggregate to frequencies, one to the
    frequency histogram (|distinct freqs| rows — tiny), windows over
    that histogram only. Hot partitions show up here before they
    melt an executor; this operator IS the planning step the salted
    join (q_salted_join_agg) consumes."""
    outs = []
    for table, key, label in [
        ("lineitem", "l_orderkey", "lineitem.l_orderkey"),
        ("events", "user_id", "events.user_id"),
        ("documents", "source", "documents.source"),
    ]:
        t = load_table(spark, sf_dir, table)
        freqs = t.groupBy(key).agg(F.count(F.lit(1)).alias("f"))
        hist = freqs.groupBy("f").agg(
            F.count(F.lit(1)).alias("cnt_keys")
        )
        prof = hist.select(
            "f",
            "cnt_keys",
            F.expr("SUM(cnt_keys) OVER (ORDER BY f)").alias("cum_keys"),
            F.expr("SUM(cnt_keys) OVER ()").alias("n_keys_t"),
            (F.col("f") * F.col("cnt_keys")).alias("rows_at_f"),
        ).agg(
            F.lit(label).alias("key_name"),
            F.sum("rows_at_f").alias("n_rows"),
            F.sum("cnt_keys").alias("n_keys"),
            F.max("f").alias("max_freq"),
            F.expr(
                "CAST((1000000 * MAX(f)) div SUM(f * cnt_keys) AS BIGINT)"
            ).alias("top1_share_ppm"),
            F.expr(
                "CAST((1000000 * MAX(f) * SUM(cnt_keys))"
                " div SUM(f * cnt_keys) AS BIGINT)"
            ).alias("skew_ratio_ppm"),
            F.expr(
                "CAST(MIN(CASE WHEN cum_keys * 100 >= 99 * n_keys_t"
                " THEN f END) AS BIGINT)"
            ).alias("p99_freq"),
        )
        outs.append(prof)
    res = outs[0]
    for df in outs[1:]:
        res = res.unionAll(df)
    return res.select(
        "key_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("max_freq").cast("long").alias("max_freq"),
        "top1_share_ppm",
        "skew_ratio_ppm",
        "p99_freq",
    )


def _join_card_sql_duck(table: str, key: str) -> str:
    return f"""
      SELECT '{table}.{key}' AS join_key,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST((SUM(cnt) * SUM(cnt)) // COUNT(*) AS BIGINT) AS est_rows,
             CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS BIGINT) AS actual_rows,
             CAST((1000000 * (SUM(CAST(cnt AS HUGEINT) * cnt)
                              - (SUM(cnt) * SUM(cnt)) // COUNT(*)))
                  // SUM(CAST(cnt AS HUGEINT) * cnt) AS BIGINT)
               AS underestimate_ppm
      FROM (SELECT {key}, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM {table} GROUP BY {key})
    """


@query(
    "q_join_cardinality_estimate",
    oracle=" UNION ALL ".join(
        _join_card_sql_duck(t, k)
        for t, k in [
            ("orders", "o_custkey"),
            ("lineitem", "l_orderkey"),
            ("events", "user_id"),
        ]
    ),
    tags=("skew", "cbo", "join-cardinality", "planning"),
)
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join cardinality: the textbook distinct-count estimate
    |T|^2 / ndv(key) versus the exact answer sum_k n(k)^2, per
    candidate join key — the error every cost-based optimizer makes
    when key frequencies are non-uniform (Cauchy-Schwarz guarantees
    the estimate only UNDER-counts, reported as underestimate_ppm).
    A key whose ppm is large joins bigger than the planner thinks:
    that is exactly where a broadcast-vs-shuffle decision or an AQE
    skew split goes wrong, and this audit finds it from one
    frequency aggregate per table, never materializing any join.

    Scale: one groupBy per table collapsing to |distinct key| rows
    with map-side partials, then a 1-row moment rollup; the three
    audits union. Pairs with q_join_key_skew_audit's per-key view."""
    frames = []
    for table, key in [
        ("orders", "o_custkey"),
        ("lineitem", "l_orderkey"),
        ("events", "user_id"),
    ]:
        t = load_table(spark, sf_dir, table)
        per_key = t.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        frames.append(
            per_key.agg(
                F.sum("cnt").alias("n_rows"),
                F.count(F.lit(1)).alias("n_distinct"),
                F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).alias(
                    "sum_sq"
                ),
            ).select(
                F.lit(f"{table}.{key}").alias("join_key"),
                "n_rows",
                "n_distinct",
                F.expr(
                    "CAST((n_rows * n_rows) div n_distinct AS BIGINT)"
                ).alias("est_rows"),
                F.expr("CAST(sum_sq AS BIGINT)").alias("actual_rows"),
                F.expr(
                    "CAST((1000000 * (sum_sq"
                    " - (n_rows * n_rows) div n_distinct))"
                    " div sum_sq AS BIGINT)"
                ).alias("underestimate_ppm"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


@query(
    "q_salted_aggregation",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_cents
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("skew", "salted-aggregation", "two-stage", "shuffle"),
)
def q_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage SALTED aggregation for hot grouping keys:
    l_returnflag has only 3 values, so a plain groupBy sends each
    key's entire mass to one reducer — the aggregation analog of the
    skewed join q_salted_join fixes. Stage 1 groups by (key, salt =
    orderkey % 8), spreading each hot key over 8 reducers of partial
    sums; stage 2 re-merges the 3 x 8 partials by key alone. The
    result is bit-identical to the plain aggregate (the oracle IS the
    plain aggregate — count/sum/sum compose across salts; this
    decomposition is exactly why AVG must ship as SUM+COUNT, and why
    non-decomposable aggregates like exact MEDIAN cannot be salted).

    In fairness: Spark's hash aggregate already computes map-side
    partials, so plain groupBy rarely needs this — the pattern
    matters when the PARTIAL state itself is huge per key
    (collect_list, exact distinct sets), where stage 1 bounds the
    per-reducer state. The shape is the point; the cheap sums keep
    it oracle-exact.

    Scale: two exchanges ((key, salt), then key) moving 24 partial
    rows in stage 2; per-reducer load drops 8x for the hottest key."""
    li = load_table(spark, sf_dir, "lineitem")
    stage1 = li.groupBy(
        "l_returnflag", (F.col("l_orderkey") % 8).alias("salt")
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.expr("CAST(l_quantity AS BIGINT)")).alias("pq"),
        F.sum(F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")).alias(
            "pp"
        ),
    )
    return stage1.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"),
        F.sum("pq").alias("sum_qty"),
        F.sum("pp").alias("sum_price_cents"),
    )

"""Streaming-shaped operators, batch-first over `events`
(SURVEY.md §2.9). Structured Streaming twins live in streaming/twins.py
— same expressions over readStream, not driver-checked.

Scale posture: tumbling/sliding/session windows are hash aggregates on
derived keys — partial aggregation bounds shuffle volume by
|windows|x|keys|. The sliding window materializes size/slide rows per
event BEFORE partial agg (here 4x) — at 100 TB pick slide ratios
consciously; session windows shuffle once on the session key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dec, money_sum
from ..functions.textops import tokens, words
from ..registry import query
from ..sources.loader import load_table
from .neardup import _ML_CONFIG, _ml_sig_sql, ml_bands_maponly

_SLIDE_US = 900_000_000  # 15 min
_GAP = "30 minutes"


@query(
    "q_sliding_window",
    oracle=f"""
    SELECT make_timestamp(((epoch_us(CAST(ts AS TIMESTAMP)) // {_SLIDE_US}) - g.i)
                          * {_SLIDE_US}) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(19,2))), 2) AS DOUBLE) AS sum_value
    FROM events, generate_series(0, 3) AS g(i)
    GROUP BY 1, 2
    """,
    tags=("events", "sliding-window"),
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min (each event lands in
    size/slide = 4 windows). Oracle reproduces Spark's epoch-aligned
    window starts arithmetically: start = (floor(us/slide) - i) * slide.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(dec("value"), "sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_SESSION_ORACLE = f"""
    WITH o AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL {_GAP}
                  THEN 1 ELSE 0 END AS new_session
      FROM o
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {_GAP} AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
"""


@query("q_session_window", oracle=_SESSION_ORACLE, tags=("events", "session-window"))
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window(ts, 30 min) per user. Session end is
    last-event + gap, window half-open, so a new session starts when
    the gap is >= 30 min — the oracle's gaps-and-islands SQL mirrors
    exactly that boundary."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", _GAP), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "q_sessionize_gaps",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    )
    """,
    tags=("events", "sessionize", "stateful"),
)
def q_sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event session ids via gaps-and-islands (lag + cumulative
    sum) — the batch expression of custom stateful sessionization
    (streaming twin: transformWithStateInPandas / session_window)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    new_s = F.when(
        F.lag("ts").over(w).isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)) >= gap_us),
        1,
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.sum(new_s).over(wsum).cast("long").alias("session_id"),
    )


@query(
    "q_late_data_filter",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events
    WHERE CAST(ts AS TIMESTAMP) >=
          (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 1 DAY
    GROUP BY event_type
    """,
    tags=("events", "watermark"),
)
def q_late_data_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch analog of a watermark: keep only events within 1 day of
    the observed max event time (late rows dropped). In streaming this
    is withWatermark('ts', '1 day') — see streaming.twins."""
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("_mx"))
    return (
        e.join(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("_mx") - F.expr("INTERVAL 1 DAY"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "q_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
    tags=("events", "dedup"),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery dedup: the input doubled (union all with
    itself), then dropDuplicates on the event id — counts must equal
    the original single-delivery counts. Streaming twin:
    dropDuplicatesWithinWatermark."""
    e = load_table(spark, sf_dir, "events")
    doubled = e.unionByName(e)
    return (
        doubled.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "q_funnel_conversion",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT CAST(count_if(t_view IS NOT NULL) AS BIGINT) AS n_view,
           CAST(count_if(t_view IS NOT NULL AND t_click > t_view) AS BIGINT) AS n_view_click,
           CAST(count_if(t_view IS NOT NULL AND t_click > t_view
                         AND t_purchase > t_click) AS BIGINT) AS n_full_funnel,
           COUNT(*) AS n_users
    FROM per_user
    """,
    tags=("events", "funnel", "analytics"),
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): a user converts a
    stage only if their FIRST click follows their first view, etc —
    the order constraint that separates a funnel from three counters.
    One conditional-min aggregate per user (single shuffle), then a
    1-row funnel rollup; NULL-safe because `NULL > t` is NULL, never
    TRUE, in both engines. At 100 TB this is the map-side-combined
    two-level aggregate — no joins, no windows."""
    e = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return per_user.groupBy().agg(
        F.count_if(viewed).alias("n_view"),
        F.count_if(clicked).alias("n_view_click"),
        F.count_if(purchased).alias("n_full_funnel"),
        F.count(F.lit(1)).alias("n_users"),
    )


@query(
    "q_cohort_retention",
    oracle="""
    WITH first_day AS (
      SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day, CAST(CAST(e.ts AS TIMESTAMP) AS DATE)) AS day_offset
      FROM events e JOIN first_day f ON f.user_id = e.user_id
    )
    SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
           CAST(day_offset AS BIGINT) AS day_offset,
           COUNT(*) AS n_active_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
    tags=("events", "cohort", "analytics"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted
    on each later day they return (first week). Shape: first-day
    aggregate, join back on user_id (both sides already hash on
    user_id — AQE reuses the partitioning), DISTINCT to one row per
    (user, day), then the cohort matrix aggregate. datediff on DATEs
    is integer arithmetic — exact everywhere."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first_day = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    activity = (
        e.join(first_day, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("d", F.col("cohort_day")).cast("long").alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy(
            # DATE surfaces as python objects in pandas while DuckDB
            # yields datetime64 — normalize to timestamp on both sides
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS prev
      FROM events
    ),
    counts AS (
      SELECT prev AS prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           n / CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p
    FROM counts
    """,
    tags=("events", "product-analytics", "markov"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: lag window -> bigram counts -> row-normalized transition
    probability. One window shuffle on user_id, one agg on the (at
    most |types|^2-row) bigram table; p is a single long/long division
    (correctly rounded in both engines). Oracle orders by the
    us-truncated timestamp so ns sub-ticks can't reorder ties
    differently from Spark ([[oracle-exactness-playbook]])."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n") / F.sum("n").over(wp)).alias("p"),
    )


@query(
    "q_streaming_tumbling_exec",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(19,2))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window-agg", "executed-stream"),
)
def q_streaming_tumbling_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Structured Streaming engine on the driver's oracle
    surface: events.parquet is driven through readStream -> watermark
    -> tumbling window aggregate -> memory sink with an availableNow
    trigger, run to completion synchronously, and the sink table is
    returned. Output mode is COMPLETE, so once the bounded input
    drains, the emitted state is the full aggregation — byte-identical
    to the batch q_events_tumbling answer, which is exactly what the
    oracle asserts. (The append-mode twin, which emits only
    watermark-closed windows, is equivalence-tested in
    tests/test_streaming.py; complete mode is what makes the streaming
    EXECUTION hashable here.)

    Decimal value sums keep the streaming aggregation state
    order-independent — the same exactness rule as batch, now enforced
    through the state store. Scale posture: one stateful operator,
    state keyed by (window, event_type) and bounded by the watermark;
    shuffle.partitions sizes the state store; swap the memory sink for
    foreachBatch/parquet and availableNow for processingTime in
    production (streaming/twins.py notes)."""
    from ..streaming import run_to_memory, stream_events

    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(dec("value"), "sum_value"),
        )
        .select(
            F.col("window.start").alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    run_to_memory(agg, "q_streaming_tumbling_exec_sink", output_mode="complete")
    return spark.table("q_streaming_tumbling_exec_sink")


@query(
    "q_streaming_session_exec",
    oracle=_SESSION_ORACLE,
    tags=("streaming", "session-window", "executed-stream"),
)
def q_streaming_session_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executed Structured Streaming SESSION windows on the oracle
    surface — the harder stateful twin of q_streaming_tumbling_exec:
    session windows MERGE as events arrive (variable-length state, not
    fixed buckets), so this exercises the engine's session-state
    machinery end-to-end. COMPLETE output mode + availableNow means
    the drained state is the full merged session set — hash-equal to
    the batch q_session_window answer, whose gaps-and-islands SQL
    oracle this query reuses verbatim.

    Scale posture: session state per (user, open session), merged on
    arrival; in production append mode + watermark bound the state and
    emit sessions as they close (the equivalence-tested twin in
    streaming/twins.py); complete mode is what makes the EXECUTION
    hashable on bounded input."""
    from ..streaming import run_to_memory, stream_events

    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.session_window("ts", _GAP), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    run_to_memory(agg, "q_streaming_session_exec_sink", output_mode="complete")
    return spark.table("q_streaming_session_exec_sink")


@query(
    "q_streaming_static_join_exec",
    oracle="""
    WITH dim(event_type, tier) AS (VALUES
      ('view', 'low'), ('click', 'low'), ('purchase', 'high'),
      ('signup', 'high'), ('error', 'ops')
    )
    SELECT d.tier,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(19,2))), 2) AS DOUBLE)
             AS sum_value
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY d.tier
    """,
    tags=("streaming", "stream-static-join", "executed-stream"),
)
def q_streaming_static_join_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executed STREAM-STATIC join — the enrichment shape every
    production stream runs (facts arrive as a stream, the dimension is
    a batch table): events drive through readStream, join a static
    5-row tier dimension (no watermark needed on the static side —
    Spark replans the static relation per micro-batch), and a
    downstream stateful aggregate rolls the enriched rows up by tier.
    COMPLETE output mode + availableNow drains the bounded input so
    the sink table is hash-equal to the batch join+aggregate the
    oracle states. Completes the executed-stream family: windowed agg,
    merging sessions, stream-stream join (inner/left/full), keyed
    dedup, foreachBatch sink, and now stream-static enrichment.

    Decimal value sums keep the streaming aggregation state
    order-independent (the house exactness rule through the state
    store). Scale posture: the static side BROADCASTS per micro-batch
    (dimension tables at 100 TB stream scale are still dimension
    tables); state is keyed by tier and bounded by the dimension's
    cardinality, not the stream's."""
    from ..streaming import run_to_memory, stream_events

    dim = spark.createDataFrame(
        [
            ("view", "low"),
            ("click", "low"),
            ("purchase", "high"),
            ("signup", "high"),
            ("error", "ops"),
        ],
        "event_type string, tier string",
    )
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.join(F.broadcast(dim), "event_type")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(dec("value"), "sum_value"),
        )
    )
    run_to_memory(agg, "q_streaming_static_join_exec_sink", output_mode="complete")
    return spark.table("q_streaming_static_join_exec_sink")


@query(
    "q_streaming_join_exec",
    oracle="""
    SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id AS p_user,
           CAST(p.ts AS TIMESTAMP) AS p_ts, CAST(c.ts AS TIMESTAMP) AS c_ts
    FROM events AS p
    JOIN events AS c
      ON c.user_id = p.user_id
     AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 5 MINUTE
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    tags=("streaming", "stream-stream-join", "executed-stream"),
)
def q_streaming_join_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executed stream-STREAM join on the oracle surface — the third
    and hardest stateful streaming class after windowed aggregation
    (q_streaming_tumbling_exec) and merging sessions
    (q_streaming_session_exec): both inputs are unbounded, so the
    engine buffers each side's rows in keyed state and emits a match
    the moment the other side's row arrives. Both sides carry
    watermarks AND the join predicate carries an event-time bound
    (c_ts within [p_ts - 5 min, p_ts)), which is what lets Spark
    EVICT state — without the time bound, stream-stream join state
    grows forever.

    Inner-join emission is immediate (the watermark only gates state
    cleanup, not output), so draining the bounded source with
    availableNow emits exactly the batch join's row set — hash-equal
    to the plain SQL join the oracle runs. The append-mode memory
    sink therefore makes the real streaming EXECUTION value-checked,
    not just equivalence-tested (the OUTER variant, whose
    NULL-padding does wait on the watermark, is executed and
    oracle-checked as q_streaming_left_outer_exec).

    Scale posture: state per user_id bounded by watermark + 5-minute
    join horizon on each side; shuffle.partitions sizes the join
    state stores; the same plan on kafka sources is the production
    clickstream-attribution topology."""
    from ..streaming import run_to_memory, stream_events, streaming_event_time_join

    joined = streaming_event_time_join(stream_events(spark, sf_dir), window_minutes=5)
    run_to_memory(joined, "q_streaming_join_exec_sink", output_mode="append")
    return spark.table("q_streaming_join_exec_sink")


@query(
    "q_streaming_left_outer_exec",
    oracle="""
    SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id AS p_user,
           CAST(p.ts AS TIMESTAMP) AS p_ts, CAST(c.ts AS TIMESTAMP) AS c_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') AS p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') AS c
      ON c.user_id = p.user_id
     AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 5 MINUTE
    """,
    tags=("streaming", "stream-stream-join", "outer-join", "executed-stream"),
)
def q_streaming_left_outer_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executed stream-stream LEFT OUTER join on the oracle surface —
    the hard half of streaming joins: unmatched left rows must emit
    NULL-padded, but only once the watermark proves no match can
    still arrive, so the output depends on watermark PROGRESS, not
    just on the data. A naive bounded drain never emits the tail (the
    final watermark stops at max(ts) - delay); this query drains
    through stream_events_with_wm_sentinel, whose future-stamped
    sentinel batch plus availableNow's closing no-data micro-batch
    push the watermark past every real row — the bounded-replay
    analog of kafka heartbeat punctuation. The drained append-mode
    sink is then hash-equal to the batch LEFT JOIN the oracle runs
    (every purchase row present; ~99% carry NULL click columns at
    sf0.01's event density).

    Scale posture: same bounded state as the inner join
    (q_streaming_join_exec) — watermark + 5-minute horizon per side;
    the outer-emission bookkeeping adds no state, only an eviction
    trigger. Watermark is applied BEFORE the type filters so the
    sentinel advances it on both join inputs."""
    from ..streaming import (
        run_to_memory,
        stream_events_with_wm_sentinel,
        streaming_left_outer_join,
    )

    joined = streaming_left_outer_join(
        stream_events_with_wm_sentinel(spark, sf_dir), window_minutes=5
    )
    run_to_memory(joined, "q_streaming_left_outer_exec_sink", output_mode="append")
    # sentinel rows are filtered HERE, batch-side: an in-stream filter
    # on p_user would be pushed down to the scans and starve the
    # watermark of the sentinel rows (see streaming_left_outer_join)
    return spark.table("q_streaming_left_outer_exec_sink").filter(
        F.col("p_user") != -1
    )


@query(
    "q_streaming_full_outer_exec",
    oracle="""
    SELECT p.event_id AS p_id, c.event_id AS c_id,
           p.user_id AS p_user, c.user_id AS c_user,
           CAST(p.ts AS TIMESTAMP) AS p_ts, CAST(c.ts AS TIMESTAMP) AS c_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') AS p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') AS c
      ON c.user_id = p.user_id
     AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 5 MINUTE
    """,
    tags=("streaming", "stream-stream-join", "outer-join", "executed-stream"),
)
def q_streaming_full_outer_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executed stream-stream FULL OUTER join — both sides' unmatched
    rows emit NULL-padded on watermark passage, with asymmetric
    eviction horizons (left clears at wm > p_ts; right at wm > c_ts +
    join window). Drained via the same watermark-punctuation source as
    q_streaming_left_outer_exec; sentinel rows (user -1 on either
    side) are filtered batch-side AFTER the sink for the same
    pushdown-starvation reason documented there. Hash-equal to the
    batch FULL JOIN tri-scale — at this event density most rows are
    one-sided NULL pads, exercising both emission paths hard."""
    from ..streaming import (
        run_to_memory,
        stream_events_with_wm_sentinel,
        streaming_full_outer_join,
    )

    joined = streaming_full_outer_join(
        stream_events_with_wm_sentinel(spark, sf_dir), window_minutes=5
    )
    run_to_memory(joined, "q_streaming_full_outer_exec_sink", output_mode="append")
    out = spark.table("q_streaming_full_outer_exec_sink")
    return out.filter(
        (F.col("p_user").isNull() | (F.col("p_user") != -1))
        & (F.col("c_user").isNull() | (F.col("c_user") != -1))
    )


@query(
    "q_streaming_chained_stateful_exec",
    oracle="""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             AS hour_ts,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY hour_ts, event_type
    """,
    tags=("streaming", "chained-stateful", "dedup", "tumbling", "executed-stream"),
)
def q_streaming_chained_stateful_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming operators (Spark 4.x): keyed dedup
    state feeding tumbling-window aggregation state inside ONE query
    — the at-least-once-source -> exactly-once-metrics topology that
    needed two jobs and an intermediate topic before multi-stateful
    support. Input is the sentinel source DOUBLED (every event
    arrives twice); dropDuplicatesWithinWatermark collapses the
    duplicates, the hourly aggregate counts the survivors, and append
    mode emits each window once its end passes the watermark —
    sentinel batch #3 is what closes the final real hour (see
    stream_events_with_wm_sentinel).

    The sentinel hours land PAST every real hour, so the batch-side
    guard filters on hour_ts <= trunc(max real ts) — computed from
    the batch table, keeping the stream free of pushdown-prone
    sentinel predicates. Hash-equal to the plain batch hourly count
    tri-scale."""
    from ..streaming import (
        run_to_memory,
        stream_events_with_wm_sentinel,
        streaming_dedup_then_tumbling,
    )

    doubled = stream_events_with_wm_sentinel(spark, sf_dir).unionByName(
        stream_events_with_wm_sentinel(spark, sf_dir)
    )
    agg = streaming_dedup_then_tumbling(doubled)
    run_to_memory(
        agg, "q_streaming_chained_stateful_exec_sink", output_mode="append"
    )
    out = spark.table("q_streaming_chained_stateful_exec_sink")
    mx = (
        load_table(spark, sf_dir, "events")
        .agg(F.date_trunc("hour", F.max("ts")).alias("_mx"))
    )
    return (
        out.join(F.broadcast(mx))
        .filter(F.col("hour_ts") <= F.col("_mx"))
        .select("hour_ts", "event_type", "n_events")
    )


@query(
    "q_streaming_dedup_exec",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
           value
    FROM events
    """,
    tags=("streaming", "dedup", "executed-stream"),
)
def q_streaming_dedup_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executed streaming DEDUP on the oracle surface — completes the
    executed-stream family (windowed agg, merging sessions,
    stream-stream join, and now keyed dedup state): at-least-once
    delivery is simulated by unioning TWO file sources over the same
    events directory (every event arrives twice), then
    dropDuplicatesWithinWatermark keeps the first arrival per
    event_id with state bounded by the watermark horizon.

    First-arrival emission is immediate in append mode, and both
    copies are identical, so the drained output is exactly one row
    per event — hash-equal to the plain table scan the oracle runs.
    availableNow processes the bounded input before the watermark
    advances, so no arrival can be classified late; in production the
    watermark is the replay-window SLA and controls state size
    (streaming/twins.py notes). Batch twin: q_stream_dedup."""
    from ..streaming import run_to_memory, stream_events, streaming_dedup

    doubled = stream_events(spark, sf_dir).unionByName(stream_events(spark, sf_dir))
    dedup = streaming_dedup(doubled).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    run_to_memory(dedup, "q_streaming_dedup_exec_sink", output_mode="append")
    return spark.table("q_streaming_dedup_exec_sink")


@query(
    "q_streaming_upsert_exec",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(19,2))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "foreachBatch", "exactly-once", "executed-stream"),
)
def q_streaming_upsert_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executed foreachBatch EXACTLY-ONCE upsert on the oracle surface
    — the executed-stream family's SINK leg (the other four exercise
    state: agg, sessions, join, dedup). The events stream aggregates
    per event_type in complete mode; every micro-batch MERGEs its
    snapshot into a parquet target by key via the idempotent
    anti-join+union upsert (streaming/twins.run_foreach_batch_upsert —
    replaying an epoch converges instead of duplicating, which is what
    makes at-least-once delivery exactly-once at the sink). The query
    returns the TARGET TABLE read back from parquet, so what gets
    hash-checked is the durable result of the streaming WRITE path,
    not an in-memory sink.

    Decimal value sums keep the streaming aggregation state
    order-independent (the q_streaming_tumbling_exec exactness rule,
    now carried through the state store AND the sink merge). Scale:
    aggregation state is |event types| rows; the merge rewrites only
    the |keys|-row target (at 100 TB: partition the target and rewrite
    touched partitions, or hand MERGE to a table format — notes in
    streaming/twins.py). The parquet target is a per-process temp dir;
    production points it at the lake path."""
    import tempfile

    from ..streaming import run_foreach_batch_upsert, stream_events

    agg = (
        stream_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(dec("value"), "sum_value"),
        )
    )
    target = tempfile.mkdtemp(prefix="upsert_exec_") + "/target"
    run_foreach_batch_upsert(agg, target, "event_type")
    return spark.read.parquet(target)


@query(
    "q_out_of_order_audit",
    oracle="""
    WITH seq AS (
      SELECT event_type, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             MAX(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_max_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN us < prior_max_us THEN 1 ELSE 0 END) AS BIGINT)
             AS n_out_of_order,
           CAST(COALESCE(MAX(CASE WHEN us < prior_max_us
                                  THEN prior_max_us - us END), 0) AS BIGINT)
             AS max_disorder_us,
           CAST(COALESCE(SUM(CASE WHEN us < prior_max_us
                                  THEN prior_max_us - us ELSE 0 END), 0) AS BIGINT)
             AS total_disorder_us
    FROM seq GROUP BY event_type
    """,
    tags=("events", "watermark", "out-of-order", "streaming"),
)
def q_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit — the measurement that SETS a watermark
    delay instead of guessing it: replay each event type in arrival
    order (event_id as the generation sequence) and measure how far
    each event's time lags the running maximum. max_disorder_us is
    the smallest watermark delay that would have dropped nothing;
    n_out_of_order / total_disorder_us quantify how much the source
    actually reorders. All exact integers (microsecond epochs).

    Plan: one running-max window keyed by event_type + the same-keyed
    aggregate — Spark chains both on a single exchange."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        "event_type",
        us.alias("us"),
        F.max(us).over(w).alias("prior_max_us"),
    )
    late = F.col("us") < F.col("prior_max_us")
    disorder = F.col("prior_max_us") - F.col("us")
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(late.cast("long")).alias("n_out_of_order"),
        F.coalesce(F.max(F.when(late, disorder)), F.lit(0)).alias(
            "max_disorder_us"
        ),
        F.coalesce(F.sum(F.when(late, disorder).otherwise(0)), F.lit(0)).alias(
            "total_disorder_us"
        ),
    )


@query(
    "q_token_bucket",
    oracle="""
    WITH RECURSIVE s AS MATERIALIZED (
      SELECT user_id, ts,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts,
                                     event_id) AS BIGINT) AS rn,
             CAST(epoch_us(ts) AS BIGINT) AS us
      FROM events WHERE user_id % 40 = 0
    ), r AS (
      SELECT user_id, rn, us,
             CAST(9000 AS BIGINT) AS tokens_milli,  -- 10000 cap - first hit
             CAST(0 AS BIGINT) AS throttled
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, s.us,
             CASE WHEN LEAST(10000, r.tokens_milli
                             + ((s.us - r.us) // 1000000) * 1000 // 60)
                       >= 1000
                  THEN LEAST(10000, r.tokens_milli
                             + ((s.us - r.us) // 1000000) * 1000 // 60)
                       - 1000
                  ELSE LEAST(10000, r.tokens_milli
                             + ((s.us - r.us) // 1000000) * 1000 // 60)
                  END,
             CASE WHEN LEAST(10000, r.tokens_milli
                             + ((s.us - r.us) // 1000000) * 1000 // 60)
                       >= 1000
                  THEN 0 ELSE 1 END
      FROM s JOIN r ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(throttled) AS BIGINT) AS n_throttled,
           CAST((1000000 * SUM(throttled)) // COUNT(*) AS BIGINT)
             AS throttle_ppm,
           CAST(MAX(CASE WHEN rn = (SELECT MAX(r2.rn) FROM r r2
                                    WHERE r2.user_id = r.user_id)
                    THEN tokens_milli END) AS BIGINT) AS final_tokens_milli
    FROM r GROUP BY user_id
    """,
    tags=("events", "rate-limit", "token-bucket", "stateful", "udf"),
)
def q_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate-limiter replay over each user's event stream
    (capacity 10 tokens, refill 1/minute, cost 1/event; audited on
    the user_id % 40 == 0 cohort): the state machine every API quota
    layer runs, replayed offline to ask "how many of this user's
    requests WOULD we have throttled under policy X" before the
    policy ships. Like q_holt_winters this is the
    state-depends-on-previous-OUTPUT class no window can express:
    tokens_milli = min(cap, tokens + elapsed_seconds*1000 div 60),
    minus 1000 when the event is admitted; whole-second elapsed
    truncation and milli-token integer arithmetic keep every step
    bit-exact across engines. First event pays from a full bucket.
    Per user: event count, throttled count, throttle ppm, and the
    final bucket level.

    Scale: grouped applyInPandas with O(1) state per user after one
    user-keyed exchange; the oracle replays the identical recurrence
    as a recursive CTE joining rn+1 (the q_holt_forecast pattern,
    per-user). The cohort filter bounds the oracle's recursion; the
    Spark side would run unfiltered at 100 TB."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").filter("user_id % 40 = 0")
    s = ev.select(
        "user_id", "ts", "event_id", F.expr("unix_micros(ts)").alias("us")
    )

    def bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        tokens, last_us = None, None
        n = throttled = 0
        for us in pdf["us"].astype(int):
            n += 1
            if tokens is None:
                tokens = 10000 - 1000  # first event admitted from full
            else:
                refill = ((us - last_us) // 1000000) * 1000 // 60
                tokens = min(10000, tokens + refill)
                if tokens >= 1000:
                    tokens -= 1000
                else:
                    throttled += 1
            last_us = us
        uid = int(pdf["user_id"].iat[0])
        return pd.DataFrame(
            [
                (
                    uid,
                    n,
                    throttled,
                    (1000000 * throttled) // n,
                    tokens,
                )
            ],
            columns=[
                "user_id", "n_events", "n_throttled", "throttle_ppm",
                "final_tokens_milli",
            ],
        )

    return s.groupBy("user_id").applyInPandas(
        bucket,
        schema=(
            "user_id long, n_events long, n_throttled long,"
            " throttle_ppm long, final_tokens_milli long"
        ),
    )


@query(
    "q_streaming_neardup_exec",
    # the md5-portable band rows of ALL documents (neardup's 16 lanes,
    # 4 bands of 4); ml_bands_maponly derives the same rows map-only
    oracle=_ml_sig_sql(_ML_CONFIG)
    + """
    , pairs AS (
      SELECT a.doc_id AS new_doc_id, i.doc_id AS corpus_doc_id,
             x.s AS s_new, y.s AS s_idx
      FROM bands a
      JOIN bands i ON i.band = a.band AND i.bh = a.bh
      JOIN sh x ON x.doc_id = a.doc_id
      JOIN sh y ON y.doc_id = i.doc_id
      WHERE a.doc_id % 2 = 1 AND i.doc_id % 2 = 0
    )
    SELECT new_doc_id, corpus_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_band_hits,
           CAST(MAX((10000 * len(list_intersect(s_new, s_idx)))
                // (len(s_new) + len(s_idx)
                    - len(list_intersect(s_new, s_idx)))) AS BIGINT)
             AS jaccard_x10000
    FROM pairs
    WHERE 2 * len(list_intersect(s_new, s_idx))
          >= (len(s_new) + len(s_idx) - len(list_intersect(s_new, s_idx)))
    GROUP BY new_doc_id, corpus_doc_id
    """,
    tags=("streaming", "neardup", "lsh", "executed-stream", "llm-pipeline"),
)
def q_streaming_neardup_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executed STREAMING near-duplicate gate — the ingestion-time
    dedup pattern a 100 TB corpus actually needs: documents ARRIVE as
    a stream (odd doc_ids stand in for new arrivals), each is MinHash-
    banded MAP-ONLY inside its row (neardup.ml_bands_maponly — no
    shuffle, no state before the join), equi-joined per micro-batch
    against the STATIC band index of the already-ingested corpus (even
    doc_ids), exactly Jaccard-verified, and rolled up per (arrival,
    corpus) pair in the one stateful aggregate (COMPLETE mode +
    availableNow drains the bounded input). The sink is hash-equal to
    the batch replay the oracle states.

    Scale posture: the arrival side never aggregates pre-join (the
    array_min lane fold keeps banding stateless); the static index at
    production scale is a pre-materialized bucketed table keyed by
    (band, bh) — here it is derived in-plan from the even half (Spark
    replans the static side per micro-batch). Join is equi on
    (band, bh); state is keyed by matched PAIRS (near-dup hits), not
    by the stream — bounded by true duplication, not volume."""
    from ..streaming import run_to_memory, stream_documents

    d = load_table(spark, sf_dir, "documents")
    idx = ml_bands_maponly(d.filter(F.col("doc_id") % 2 == 0)).select(
        F.col("doc_id").alias("corpus_doc_id"),
        F.col("s").alias("s_idx"),
        "band",
        "bh",
    )
    arrivals = ml_bands_maponly(
        stream_documents(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)
    ).select(
        F.col("doc_id").alias("new_doc_id"),
        F.col("s").alias("s_new"),
        "band",
        "bh",
    )
    inter = F.size(F.array_intersect("s_new", "s_idx"))
    union = F.size("s_new") + F.size("s_idx") - inter
    hits = (
        arrivals.join(idx, ["band", "bh"])
        .withColumns(
            {"n_inter": inter.cast("bigint"), "n_union": union.cast("bigint")}
        )
        .filter(2 * F.col("n_inter") >= F.col("n_union"))
        .groupBy("new_doc_id", "corpus_doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_band_hits"),
            F.max(
                F.expr("CAST((10000 * n_inter) div n_union AS BIGINT)")
            ).alias("jaccard_x10000"),
        )
    )
    run_to_memory(
        hits, "q_streaming_neardup_exec_sink", output_mode="complete"
    )
    return spark.table("q_streaming_neardup_exec_sink")


@query(
    "q_streaming_sliding_exec",
    oracle=f"""
    SELECT make_timestamp(((epoch_us(CAST(ts AS TIMESTAMP)) // {_SLIDE_US}) - g.i)
                          * {_SLIDE_US}) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(19,2))), 2) AS DOUBLE) AS sum_value
    FROM events, generate_series(0, 3) AS g(i)
    GROUP BY 1, 2
    """,
    tags=("streaming", "sliding-window", "executed-stream"),
)
def q_streaming_sliding_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED Structured Streaming SLIDING window (1 hour / 15 min):
    events.parquet driven through readStream -> watermark -> sliding
    window aggregate -> memory sink, availableNow trigger, COMPLETE
    mode — the overlapping-window twin of q_streaming_tumbling_exec
    (each event updates size/slide = 4 window states, which is the
    state-store amplification tumbling doesn't have). The oracle is
    q_sliding_window's epoch arithmetic, so the STREAMING execution is
    held to the exact batch answer.

    Exactness: decimal value sums keep the windowed state
    order-independent across microbatches — complete-mode emission
    after the bounded input drains is then byte-identical to batch.

    Scale: one stateful operator whose state is |windows|x|types| keyed
    rows, bounded by the watermark; the 4x row amplification happens
    map-side BEFORE the state store, so slide ratio is the knob that
    prices this query (SURVEY §2.9 sliding note). Swap memory ->
    foreachBatch/parquet and availableNow -> processingTime in
    production."""
    from ..streaming import run_to_memory, stream_events

    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(dec("value"), "sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    run_to_memory(agg, "q_streaming_sliding_exec_sink", output_mode="complete")
    return spark.table("q_streaming_sliding_exec_sink")


# ---------------------------------------------------------------------
# q_streaming_page_hinkley_exec (round 7)
# ---------------------------------------------------------------------

_SPH_ALARM_PCT = 10  # same relative bound as batch q_page_hinkley


_SPH_NS_PER_DAY = 86_400_000_000_000


def _sph_state_fn(key, pdfs, state):
    """applyInPandasWithState fn for q_streaming_page_hinkley_exec.

    Module-level (not a closure) so tests can drive the multi-batch
    day-split semantics directly with a fake GroupState — see
    tests/test_streaming.py::test_page_hinkley_day_split_merge."""
    import numpy as np
    import pandas as pd

    if state.exists:
        i, cum, m, mx, held_day, held_cents, seq = state.get
    else:
        i, cum, m, mx, held_day, held_cents, seq = 0, 0, 0, 0, -1, 0, 0
    frames = [pdf for pdf in pdfs]
    df = pd.concat(frames) if frames else pd.DataFrame()
    if len(df) == 0:
        state.update((i, cum, m, mx, held_day, held_cents, seq))
        yield pd.DataFrame(
            columns=["day", "cents", "m_milli", "ph_milli", "alarm",
                     "seq"]
        )
        return
    df["day"] = df["ts"].dt.floor("D")
    # engines' ROUND: half away from zero (np.round is banker's —
    # would diverge from the batch SQL on exact .5 cent boundaries)
    v100 = (df["value"] * 100).to_numpy()
    daily = (
        df.assign(
            cents=(np.sign(v100) * np.floor(np.abs(v100) + 0.5))
            .astype("int64")
        )
        .groupby("day", as_index=False)["cents"]
        .sum()
        .sort_values("day")
    )
    days = [
        (int(d.value // _SPH_NS_PER_DAY), d, int(c))
        for d, c in zip(daily["day"], daily["cents"])
    ]
    if held_day >= 0:
        first_epoch = days[0][0]
        if first_epoch < held_day:
            raise ValueError(
                "q_streaming_page_hinkley_exec: batch contains day "
                f"{first_epoch} before the held day {held_day}; the "
                "ordered-replay contract is broken"
            )
        if first_epoch == held_day:
            # boundary-split day: merge into the held accumulator
            # and re-emit the corrected row below
            days[0] = (held_day, days[0][1], days[0][2] + held_cents)
        else:
            # held day is complete (monotonic contract) — fold it
            # into the snapshot silently; its emitted row stands
            days.insert(
                0,
                (held_day, pd.Timestamp(held_day * _SPH_NS_PER_DAY), held_cents),
            )
            days[0] = days[0] + ("silent",)
    out = []

    def _fold(cents_):
        nonlocal i, cum, m, mx
        i += 1
        cum += cents_
        v = 1000.0 * (float(cents_) * i - cum) / float(i)
        # half away from zero again (see above)
        dev = int(np.sign(v) * np.floor(np.abs(v) + 0.5))
        m += dev
        mx = max(mx, m)
        return mx - m

    # fold every day except the last into the snapshot; the last
    # day stays HELD (it may continue in the next batch)
    for entry in days[:-1]:
        epoch_d, ts_d, cents_d = entry[:3]
        ph = _fold(cents_d)
        if len(entry) == 3:  # not the silent held-day refold
            out.append(
                (ts_d, cents_d, m, ph,
                 ph * _SPH_ALARM_PCT > cum * 1000, seq)
            )
            seq += 1
    # last day: emit from a scratch copy of the snapshot
    epoch_d, ts_d, cents_d = days[-1][:3]
    i2, cum2 = i + 1, cum + cents_d
    v = 1000.0 * (float(cents_d) * i2 - cum2) / float(i2)
    dev = int(np.sign(v) * np.floor(np.abs(v) + 0.5))
    m2 = m + dev
    mx2 = max(mx, m2)
    ph2 = mx2 - m2
    out.append(
        (ts_d, cents_d, m2, ph2,
         ph2 * _SPH_ALARM_PCT > cum2 * 1000, seq)
    )
    seq += 1
    state.update((i, cum, m, mx, epoch_d, cents_d, seq))
    yield pd.DataFrame(
        out,
        columns=["day", "cents", "m_milli", "ph_milli", "alarm", "seq"],
    )


@query(
    "q_streaming_page_hinkley_exec",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ),
    runs AS (
      SELECT day, cents,
             CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
             CAST(SUM(cents) OVER (ORDER BY day) AS BIGINT) AS cum
      FROM daily
    ),
    dev AS (
      SELECT day, cents, i, cum,
             CAST(ROUND(1000.0 * (CAST(cents AS DOUBLE) * i - cum)
                        / CAST(i AS DOUBLE)) AS BIGINT) AS dev_milli
      FROM runs
    ),
    m AS (
      SELECT day, cents, cum, dev_milli,
             CAST(SUM(dev_milli) OVER (ORDER BY day) AS BIGINT) AS m_milli
      FROM dev
    )
    SELECT day, cents, m_milli,
           CAST(MAX(m_milli) OVER (ORDER BY day) - m_milli AS BIGINT)
             AS ph_milli,
           (MAX(m_milli) OVER (ORDER BY day) - m_milli)
             * {_SPH_ALARM_PCT} > CAST(cum AS BIGINT) * 1000 AS alarm
    FROM m
    """,
    tags=("streaming", "executed", "page-hinkley", "drift", "stateful"),
)
def q_streaming_page_hinkley_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED custom stateful streaming drift monitor: the
    q_page_hinkley integer recurrence run INSIDE a Structured
    Streaming query via applyInPandasWithState — events.parquet
    through readStream, one logical series key, integer PH state
    evolved in the state store, day rows appended — held to the exact
    batch SQL answer over the SAME daily series (here the events
    value stream; batch q_page_hinkley monitors order revenue).

    Exactness: the state function re-implements the recurrence with
    the engines' ROUND (half away from zero, NOT python banker's
    rounding) over the same exact integer operands — BOTH for the
    per-day cents quantization and for the deviation term — so the
    streaming emission is hash-identical to the windowed batch SQL.

    Day-split correctness (a calendar day spanning two micro-batches):
    the state keeps the accumulator SNAPSHOT taken before the most
    recent day was folded in, plus that day's (epoch-day, cents-so-far)
    and an emission sequence number. When a later batch continues the
    same day, its cents merge into the held day and the corrected row
    re-emits with a higher seq; the reader keeps only the max-seq row
    per day, so a boundary-split day converges to the exact batch
    answer instead of double-incrementing i. A batch whose first day
    PRECEDES the held day violates the ordered-replay contract and
    raises rather than silently diverging. availableNow drains the
    directory in one batch here, so the single-batch trajectory equals
    the pre-guard form row for row.

    Scale/state: state per series is SEVEN integers (snapshot day
    count / cum cents / cum deviation / running max, held epoch-day,
    held cents, next seq) — O(1) regardless of stream length. This is
    the production form the batch docstring promises."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming import run_to_memory, stream_events

    ev = stream_events(spark, sf_dir).select(
        F.lit(1).alias("series"), "ts", "value"
    )
    monitored = ev.groupBy("series").applyInPandasWithState(
        _sph_state_fn,
        outputStructType=(
            "day timestamp, cents long, m_milli long, ph_milli long,"
            " alarm boolean, seq long"
        ),
        stateStructType=(
            "i long, cum long, m long, mx long, held_day long,"
            " held_cents long, seq long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    run_to_memory(monitored, "q_streaming_page_hinkley_exec_sink")
    # a split day may have been emitted more than once (partial row
    # superseded by the corrected max-seq row) — keep the latest
    t = spark.table("q_streaming_page_hinkley_exec_sink")
    w = Window.partitionBy("day").orderBy(F.col("seq").desc())
    return (
        t.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("day", "cents", "m_milli", "ph_milli", "alarm")
    )


# ---------------------------------------------------------------------
# q_streaming_quality_gate_exec (round 8)
# ---------------------------------------------------------------------


from .curation import (  # noqa: E402  (shared rule constants — one source of truth)
    _G_MAX_WORDS,
    _G_MIN_STOP,
    _G_MIN_WORDS,
    _G_MWL_HI,
    _G_MWL_LO,
)
from .text import _SW_SQL  # noqa: E402


_SQGE_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, t.tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) t WHERE t.tok <> ''
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(length(tok)) AS BIGINT) AS n_chars,
             CAST(COUNT(DISTINCT CASE WHEN tok IN ({_SW_SQL}) THEN tok END)
                  AS BIGINT) AS n_stop_distinct,
             CAST(SUM(CASE WHEN regexp_matches(tok, '[a-z]') THEN 1 ELSE 0
                      END) AS BIGINT) AS n_alpha_words
      FROM tok GROUP BY doc_id
    ),
    top_tf AS (
      SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS max_tf FROM (
        SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY doc_id, tok
      ) GROUP BY doc_id
    ),
    flags AS (
      SELECT d.source,
             (p.n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS})
               AS word_count_ok,
             (p.n_chars >= {_G_MWL_LO} * p.n_words
              AND p.n_chars <= {_G_MWL_HI} * p.n_words) AS mean_word_len_ok,
             (p.n_stop_distinct >= {_G_MIN_STOP}) AS stopword_ok,
             (5 * p.n_alpha_words >= 4 * p.n_words) AS alpha_ratio_ok,
             (10 * t.max_tf <= 3 * p.n_words) AS top_token_ok
      FROM per_doc p
      JOIN top_tf t ON t.doc_id = p.doc_id
      JOIN documents d ON d.doc_id = p.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(count_if(word_count_ok AND mean_word_len_ok AND stopword_ok
                         AND alpha_ratio_ok AND top_token_ok) AS BIGINT)
             AS n_keep,
           CAST(count_if(NOT word_count_ok) AS BIGINT) AS n_word_count_fail,
           CAST(count_if(NOT mean_word_len_ok) AS BIGINT)
             AS n_mean_word_len_fail,
           CAST(count_if(NOT stopword_ok) AS BIGINT) AS n_stopword_fail,
           CAST(count_if(NOT alpha_ratio_ok) AS BIGINT) AS n_alpha_ratio_fail,
           CAST(count_if(NOT top_token_ok) AS BIGINT) AS n_top_token_fail
    FROM flags
    GROUP BY source
"""


@query(
    "q_streaming_quality_gate_exec",
    oracle=_SQGE_ORACLE,
    tags=("streaming", "executed", "quality", "gopher", "curation",
          "llm-pipeline"),
)
def q_streaming_quality_gate_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED streaming quality gate: the q_gopher_rules battery run
    INSIDE a Structured Streaming query — documents.parquet through
    readStream, every rule evaluated MAP-SIDE per micro-batch row
    (even the most-frequent-token share, rewritten as a HOF over the
    per-row token array instead of the batch twin's (doc, token)
    aggregate), per-doc flags appended to the sink, per-source gate
    report aggregated from the sink — held to the exact batch SQL
    answer. This is the ingestion-time curation shape at 100 TB: the
    gate costs zero shuffle and zero state, so it rides the ingest
    stream at wire speed and only survivors reach the (expensive)
    dedup/decontamination stages downstream.

    Exactness: every predicate is the batch twin's integer
    cross-multiplication (curation.py constants, imported — one
    source of truth); the HOF max_tf is the same integer the batch
    (doc, token) aggregate produces.

    Scale/state: stateless append stream — no watermark, no state
    store; per-row HOF cost is O(tokens * distinct tokens) on the
    one row it owns. The per-source report is a batch aggregate over
    the sink (|sources| rows)."""
    from ..streaming import run_to_memory, stream_documents
    from .text import _STOPWORDS

    d = stream_documents(spark, sf_dir).select("doc_id", "source", "text")
    toks = tokens()
    n_words = F.size(toks).cast("long")
    n_chars = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    n_stop_distinct = F.size(
        F.array_distinct(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    ).cast("long")
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("long")
    # the batch twin's (doc, token) aggregate, map-side: every row owns
    # its whole document, so max term frequency is a per-row HOF
    max_tf = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t)),
        )
    ).cast("long")
    flagged = d.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        n_stop_distinct.alias("n_stop_distinct"),
        n_alpha.alias("n_alpha_words"),
        max_tf.alias("max_tf"),
    ).select(
        "doc_id",
        "source",
        F.col("n_words").between(_G_MIN_WORDS, _G_MAX_WORDS).alias(
            "word_count_ok"
        ),
        (
            (F.col("n_chars") >= _G_MWL_LO * F.col("n_words"))
            & (F.col("n_chars") <= _G_MWL_HI * F.col("n_words"))
        ).alias("mean_word_len_ok"),
        (F.col("n_stop_distinct") >= _G_MIN_STOP).alias("stopword_ok"),
        (5 * F.col("n_alpha_words") >= 4 * F.col("n_words")).alias(
            "alpha_ratio_ok"
        ),
        (10 * F.col("max_tf") <= 3 * F.col("n_words")).alias("top_token_ok"),
    ).withColumn(
        "keep",
        F.col("word_count_ok")
        & F.col("mean_word_len_ok")
        & F.col("stopword_ok")
        & F.col("alpha_ratio_ok")
        & F.col("top_token_ok"),
    )
    run_to_memory(flagged, "q_streaming_quality_gate_exec_sink")
    t = spark.table("q_streaming_quality_gate_exec_sink")
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("keep")).alias("n_keep"),
        F.count_if(~F.col("word_count_ok")).alias("n_word_count_fail"),
        F.count_if(~F.col("mean_word_len_ok")).alias("n_mean_word_len_fail"),
        F.count_if(~F.col("stopword_ok")).alias("n_stopword_fail"),
        F.count_if(~F.col("alpha_ratio_ok")).alias("n_alpha_ratio_fail"),
        F.count_if(~F.col("top_token_ok")).alias("n_top_token_fail"),
    )


# ---------------------------------------------------------------------
# q_streaming_cms_exec (round 8)
# ---------------------------------------------------------------------


@query(
    "q_streaming_cms_exec",
    oracle=None,  # bound below once sketches.py has registered
    tags=("streaming", "executed", "sketch", "count-min", "llm-pipeline"),
)
def q_streaming_cms_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED streaming count-min sketch: the q_cms_heavy_hitters
    counter table maintained INSIDE a Structured Streaming aggregation
    — documents stream through readStream, tokens explode map-side,
    and groupBy(seed, bucket) holds the sketch as KEYED STREAMING
    STATE, emitted complete-mode after the availableNow drain. The
    heavy-hitter probe then reads the streamed sketch exactly like the
    batch operator reads its aggregate. Eleventh executed streaming
    query, and the one that demonstrates the sketch contract a
    streaming ingest needs: state is CONSTANT (<= depth x width = 1024
    keys) no matter how long the stream runs, because the sketch IS
    the aggregate — nothing per-doc survives the micro-batch.

    Exactness: identical md5 bucket arithmetic to the batch twin
    (sketches.py constants, one source of truth); counter updates are
    integer increments, associative and replay-safe, so the drained
    sketch equals the batch sketch exactly and the oracle IS
    q_cms_heavy_hitters' oracle.

    Scale/state: the explode is stateless map work; the only state
    store is the 1024-key counter table; the probe is a broadcast join
    against it. This is how a 100 TB/day ingest keeps live token
    frequencies without any reprocessing."""
    from ..streaming import run_to_memory, stream_documents
    from .sketches import DEPTH, TOP_N, _SPARK_BUCKET

    d = stream_documents(spark, sf_dir).select("doc_id", "text")
    toks = d.select(
        F.explode(words()).alias("tok")
    ).filter(F.col("tok") != "")
    seeds = F.explode(F.array(*[F.lit(i) for i in range(DEPTH)])).alias(
        "seed"
    )
    sketch_stream = (
        toks.select("tok", seeds)
        .select("seed", F.expr(_SPARK_BUCKET).alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    run_to_memory(
        sketch_stream, "q_streaming_cms_sink", output_mode="complete"
    )
    sketch = spark.table("q_streaming_cms_sink")

    # probe with the exact top-N from a BATCH scan (the ground truth
    # the sketch estimates), identical to the batch operator
    d_batch = load_table(spark, sf_dir, "documents")
    toks_b = d_batch.select(
        F.explode(words()).alias("tok")
    ).filter(F.col("tok") != "")
    exact = (
        toks_b.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("tok"))
        .limit(TOP_N)
    )
    probes = exact.select("tok", "exact_cnt", seeds).select(
        "tok", "exact_cnt", "seed", F.expr(_SPARK_BUCKET).alias("bucket")
    )
    return (
        probes.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            F.col("tok").alias("token"),
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
        )
    )


# late-bind the oracle: sketches.py registers after events.py on some
# import orders, so resolve at module-import completion instead of at
# decoration time
def _bind_scms_oracle() -> None:
    from ..registry import REGISTRY
    from dataclasses import replace

    spec = REGISTRY["q_streaming_cms_exec"]
    if spec.oracle is None:
        REGISTRY["q_streaming_cms_exec"] = replace(
            spec, oracle=REGISTRY["q_cms_heavy_hitters"].oracle
        )

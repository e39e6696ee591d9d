"""Structured Streaming twins of the batch event operators
(SURVEY.md §2.9). Not driver-checked (the driver compares batch
DataFrames) — these exist for capability parity and are smoke-tested
in tests/test_streaming.py with an availableNow trigger + memory sink,
which drives a bounded parquet directory through the real streaming
engine synchronously.

Production shape: swap `readStream.parquet(dir)` for kafka/kinesis,
the memory sink for foreachBatch/parquet, and availableNow for a
processingTime trigger. The transformations are IDENTICAL expressions
to the batch operators — that's the point of Structured Streaming.

State & scale: watermarks bound state for window aggs and dedup;
session windows + dropDuplicatesWithinWatermark require the watermark
or state grows without bound. Shuffle partitions size the state store
(one store per partition per stateful operator).

Sources: readStream requires an explicit schema. Every stream here
takes the one the batch loader reads the same table with
(sources/loader.read_schema, memoized per file identity and inference
confs, so a rewritten table streams with its new schema) and the same
nanos normalization, so a stream and its batch twin see one typing.
"""

from __future__ import annotations

import atexit
import datetime
import glob
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.loader import file_identity, normalize_timestamps, read_schema

# staged source dirs, one per (source file, tag) per process, removed at exit
_STAGED: dict[tuple, str] = {}


def _staged_dir(src: str, tag: object = None) -> str:
    """A temp directory holding a symlink to ``src`` under its own name:
    the file streaming source reads a DIRECTORY (it monitors it for new
    files) and the testdata tables are single files. A production
    stream points at a landing dir or kafka instead."""
    if (src, tag) not in _STAGED:
        staged = tempfile.mkdtemp(prefix="stream_table_")
        atexit.register(shutil.rmtree, staged, True)
        os.symlink(src, os.path.join(staged, os.path.basename(src)))
        _STAGED[src, tag] = staged
    return _STAGED[src, tag]


def _stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    src = f"{sf_dir}/{name}.parquet"
    staged = _staged_dir(src) if os.path.isfile(src) else src
    return normalize_timestamps(spark.readStream.schema(read_schema(spark, src)).parquet(staged))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, typed exactly as the batch
    loader reads it."""
    return _stream(spark, sf_dir, "events")


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet — the ingestion-time text
    stream."""
    return _stream(spark, sf_dir, "documents")


def streaming_tumbling(events: DataFrame) -> DataFrame:
    """Hourly tumbling counts with late-data handling — the streaming
    twin of q_events_tumbling."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("hour_ts"), "event_type", "n_events", "sum_value"
        )
    )


def streaming_session_window(events: DataFrame) -> DataFrame:
    """Session windows with watermark — twin of q_session_window."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Exactly-once-ification of at-least-once delivery — twin of
    q_stream_dedup. dropDuplicatesWithinWatermark keeps the dedup
    state bounded by the watermark horizon."""
    return events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["event_id"])


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a bounded streaming query to completion synchronously:
    availableNow trigger + memory sink. Returns the query (stopped)."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_event_time_join(events: DataFrame, window_minutes: int = 5) -> DataFrame:
    """Stream-stream event-time join (SURVEY.md §2.9): purchases
    joined to the same user's clicks within the preceding window.
    Both sides carry watermarks so the join state is bounded: Spark
    keeps only rows inside watermark + window horizon per key.

    Batch twin: q_range_join_events (bucketed range join) — same
    time-window semantics, executed over the bounded source by
    tests/test_streaming.py for equivalence on counts.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES")),
        "inner",
    ).select("p_id", "c_id", "p_user", "p_ts", "c_ts")


def run_foreach_batch_upsert(agg: DataFrame, target_dir: str, key: str) -> None:
    """foreachBatch exactly-once upsert sink: each micro-batch MERGEs
    its (complete-mode) aggregate snapshot into a parquet target by
    key — the production pattern for sinks without native streaming
    support (JDBC, object-store tables, search indexes).

    Exactly-once economics: foreachBatch delivers AT-LEAST-once (a
    crashed epoch re-runs), so the batch function must be IDEMPOTENT —
    here the upsert overwrites by key, so replaying epoch N converges
    to the same target state instead of duplicating it. Spark supplies
    (batch_df, epoch_id); epoch_id lets a transactional sink fence
    stale retries. State: the aggregation state lives in the streaming
    state store; the target holds only the merged RESULT.

    Scale: the merge is an anti-join + union (operators/cdc.py
    merge_upsert semantics) over the target — at 100 TB you'd partition
    the target and rewrite only touched partitions (or hand the merge
    to a table format with real MERGE). The streaming plumbing is
    identical either way.
    """
    from ..operators.cdc import merge_upsert

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if os.path.exists(target_dir) and any(
            f.endswith(".parquet") for f in os.listdir(target_dir)
        ):
            current = spark.read.parquet(target_dir)
            merged = merge_upsert(current, batch_df, key)
        else:
            merged = batch_df
        # write-then-swap would make this atomic on a real object store;
        # local test writes a fresh snapshot (collect to driver-free path)
        merged.write.mode("overwrite").parquet(target_dir + "_next")
        if os.path.exists(target_dir):
            shutil.rmtree(target_dir)
        shutil.move(target_dir + "_next", target_dir)

    (
        agg.writeStream.outputMode("complete")
        .foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def stream_events_with_wm_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over events PLUS a watermark-advance sentinel file:
    one purchase and one click for the nonexistent user -1, stamped
    max(ts) + 1 hour, written as a SECOND (newer-mtime) file in the
    staged source dir with maxFilesPerTrigger=1.

    Why: outer stream-stream join results only emit when the
    watermark passes the join horizon, and a bounded drain's final
    watermark stops at max(ts) - delay — the tail's NULL rows would
    never appear. The sentinel batch pushes the watermark past every
    real row (the file source processes files oldest-mtime-first, so
    the sentinel lands AFTER the data batch and late-drops nothing),
    and availableNow's closing no-data micro-batch evicts the
    remaining state. Consumers filter user_id == -1 back out. This is
    the bounded-replay analog of the heartbeat/punctuation events a
    production pipeline feeds kafka for exactly this reason.

    The sentinels are written with the schema the stream reads with,
    in a staged dir keyed by that schema and the table's files, so a
    rewritten table or a flipped nanosAsLong gets fresh ones."""
    src = f"{sf_dir}/events.parquet"
    schema = read_schema(spark, src)
    staged = _staged_dir(src, (schema, file_identity(spark, src)))
    if not os.path.exists(os.path.join(staged, "zz_wm_sentinel_3.parquet")):
        max_us = (
            normalize_timestamps(spark.read.schema(schema).parquet(src))
            .agg(F.unix_micros(F.max("ts")))
            .first()[0]
        )
        # THREE staggered sentinel batches, not one: state eviction in
        # batch N uses the watermark computed at the END of batch N-1,
        # and availableNow terminates without a closing no-data batch —
        # so with a single sentinel, rows within the watermark delay of
        # max(ts) would never see an eviction pass whose watermark
        # clears them (observed: the one unmatched purchase at exactly
        # max(ts) at sf0.001). Sentinel #2's batch evicts with
        # sentinel #1's watermark (past every real ROW); sentinel #3's
        # batch evicts with #2's (past every real WINDOW END — a
        # window-agg consumer's last hour bucket closes at
        # trunc(max)+1h, which #1's max+50min misses whenever max sits
        # in the first 10 minutes of its hour).
        #
        # Sentinels must be PLAIN FILES beside the data symlink (a
        # write.parquet() output DIRECTORY is invisible to the file
        # stream source), with mtimes just after the data file's (an
        # exotic far-future mtime would age the real data file out via
        # the source's maxFileAge window).
        long_nanos = isinstance(schema["ts"].dataType, T.LongType)
        for k in (1, 2, 3):
            us = max_us + k * 3_600_000_000
            sent_ts = us * 1000 if long_nanos else _EPOCH + datetime.timedelta(microseconds=us)
            sent = spark.createDataFrame(
                [
                    (-(2 * k - 1), sent_ts, -1, "purchase", 0.0, "{}"),
                    (-(2 * k), sent_ts, -1, "click", 0.0, "{}"),
                ],
                schema=schema,
            )
            tmp_out = os.path.join(staged, f"_build_sentinel_{k}")
            sent.coalesce(1).write.parquet(tmp_out)
            (part,) = glob.glob(os.path.join(tmp_out, "part-*.parquet"))
            dest = os.path.join(staged, f"zz_wm_sentinel_{k}.parquet")
            shutil.move(part, dest)
            shutil.rmtree(tmp_out, ignore_errors=True)
            newer = time.time() + 10 * k
            os.utime(dest, (newer, newer))
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(staged)
    )
    return normalize_timestamps(raw)


def streaming_left_outer_join(events: DataFrame, window_minutes: int = 5) -> DataFrame:
    """Stream-stream LEFT OUTER event-time join: every purchase
    emits; ones with no same-user click in the preceding window emit
    with NULL click columns once the watermark passes their horizon.
    The watermark is applied BEFORE the type filters so sentinel rows
    (any type) advance it.

    Deliberately NO sentinel filter inside the streaming query: a
    post-join `p_user != -1` gets pushed down to both scans (join
    constraint inference), which prunes the sentinel rows at the
    parquet source — they then never reach the watermark operator and
    the watermark never advances past the real data (observed: the
    outer tail silently vanished). Callers filter user_id == -1 rows
    AFTER the sink instead."""
    wm = events.withWatermark("ts", "10 minutes")
    purchases = wm.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = wm.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES")
        ),
        "leftOuter",
    ).select("p_id", "c_id", "p_user", "p_ts", "c_ts")


def streaming_full_outer_join(events: DataFrame, window_minutes: int = 5) -> DataFrame:
    """Stream-stream FULL OUTER event-time join: unmatched rows on
    EITHER side emit NULL-padded once the watermark clears their
    horizon (left: wm > p_ts; right: wm > c_ts + window). Same
    no-sentinel-filter-in-stream rule as streaming_left_outer_join."""
    wm = events.withWatermark("ts", "10 minutes")
    purchases = wm.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = wm.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES")
        ),
        "fullOuter",
    ).select("p_id", "c_id", "p_user", "c_user", "p_ts", "c_ts")


def streaming_dedup_then_tumbling(events: DataFrame) -> DataFrame:
    """CHAINED stateful operators (Spark 4.x): keyed dedup state
    feeding hourly tumbling-window aggregation state in ONE streaming
    query — the at-least-once-source -> exactly-once-metrics
    topology. Append mode: a window emits only when the watermark
    passes its end."""
    dd = events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return (
        dd.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("hour_ts"), "event_type", "n_events"
        )
    )

"""Structured Streaming twins: drive the real streaming engine over a
bounded parquet directory (availableNow + memory sink) and check the
results against the batch operators — same expressions, same answers.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_lake_with_spark_and_aws_s3_spark import REGISTRY
from data_lake_with_spark_and_aws_s3_spark.streaming import (
    run_to_memory,
    stream_events,
    stream_events_with_wm_sentinel,
    streaming_dedup,
    streaming_tumbling,
)

from .conftest import SMOKE_SF_DIR as SF
from .test_etl import _clear_job_group, _tracker


def test_streaming_tumbling_matches_batch(spark):
    agg = streaming_tumbling(stream_events(spark, SF))
    run_to_memory(agg, "t_tumbling", output_mode="append")
    got = {
        (r["hour_ts"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    batch = {
        (r["hour_ts"], r["event_type"]): r["n_events"]
        for r in REGISTRY["q_events_tumbling"].fn(spark, SF).collect()
    }
    # append mode emits only watermark-closed windows; every emitted
    # window must match the batch answer exactly, and most windows of
    # this bounded input must have been emitted
    assert got, "no windows emitted"
    for k, v in got.items():
        assert batch[k] == v, k
    assert len(got) >= len(batch) - 10


def test_second_sentinel_stream_launches_no_job(spark):
    """The sentinel source stages its files once; a later call takes
    the memoized read schema and launches no job."""
    stream_events_with_wm_sentinel(spark, SF)
    sc = spark.sparkContext
    sc.setJobGroup("sentinel-second-call", "stream_events_with_wm_sentinel")
    try:
        stream_events_with_wm_sentinel(spark, SF)
        assert _tracker(sc).getJobIdsForGroup("sentinel-second-call") == []
    finally:
        _clear_job_group(sc)


def test_stream_reads_a_rewritten_events_table(spark, tmp_path):
    """events.parquet rewritten in the same process (a new column, a
    new mtime) streams with its new schema, not the first one seen."""
    path = tmp_path / "events.parquet"

    def write(mtime: int, **extra) -> None:
        pq.write_table(pa.table({
            "event_id": [1, 2],
            "ts": pa.array([0, 60_000_000], pa.timestamp("us")),
            "user_id": [7, 7],
            "event_type": ["click", "purchase"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
            **extra,
        }), path)
        os.utime(path, (mtime, mtime))

    write(1_600_000_000)
    assert "channel" not in stream_events(spark, str(tmp_path)).columns
    write(1_600_000_100, channel=["web", "app"])
    events = stream_events(spark, str(tmp_path))
    assert events.dtypes[1] == ("ts", "timestamp")
    assert events.dtypes[-1] == ("channel", "string")
    run_to_memory(events, "t_rewritten_events")
    got = spark.table("t_rewritten_events").select("channel").collect()
    assert sorted(r.channel for r in got) == ["app", "web"]


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_sentinels_follow_a_rewritten_events_table(spark, tmp_path, unit):
    """The watermark sentinels are stamped past the table's max(ts) in
    the type the stream reads ts with (TIMESTAMP, or long nanos under
    nanosAsLong): a rewrite to later events stages new ones."""
    path = tmp_path / "events.parquet"
    hour_us = 3_600_000_000

    def write(last_hour: int, mtime: int) -> None:
        us = [0, last_hour * hour_us]
        pq.write_table(pa.table({
            "event_id": [1, 2],
            "ts": pa.array([u * 1000 if unit == "ns" else u for u in us], pa.timestamp(unit)),
            "user_id": [7, 7],
            "event_type": ["click", "purchase"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }), path)
        os.utime(path, (mtime, mtime))

    write(1, 1_600_000_000)
    stream_events_with_wm_sentinel(spark, str(tmp_path))
    write(10, 1_600_000_100)
    run_to_memory(stream_events_with_wm_sentinel(spark, str(tmp_path)), f"t_sentinels_{unit}")
    rows = spark.table(f"t_sentinels_{unit}").select(
        "user_id", F.unix_micros("ts").alias("us")
    ).collect()
    assert sorted(r.us for r in rows if r.user_id == 7) == [0, 10 * hour_us]
    assert sorted(r.us for r in rows if r.user_id == -1) == [
        k * hour_us for k in (11, 11, 12, 12, 13, 13)
    ]


def test_streaming_dedup(spark):
    dd = streaming_dedup(stream_events(spark, SF))
    run_to_memory(dd, "t_dedup", output_mode="append")
    n = spark.sql("SELECT count(*) AS n FROM t_dedup").collect()[0]["n"]
    n_batch = REGISTRY["q_stream_dedup"].fn(spark, SF).agg({"n_events": "sum"}).collect()[0][0]
    assert n == n_batch


def test_stream_stream_join_matches_batch(spark):
    from pyspark.sql import functions as F

    from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table
    from data_lake_with_spark_and_aws_s3_spark.streaming.twins import (
        streaming_event_time_join,
    )

    joined = streaming_event_time_join(stream_events(spark, SF))
    run_to_memory(joined, "t_ss_join", output_mode="append")
    n_stream = spark.sql("SELECT count(*) AS n FROM t_ss_join").collect()[0]["n"]
    # batch equivalent over the same bounded source
    e = load_table(spark, SF, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"), F.col("ts").alias("p_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("c_ts")
    )
    n_batch = p.join(
        c,
        (F.col("u") == F.col("u2"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 5 MINUTES")),
    ).count()
    assert n_stream == n_batch and n_batch > 0


def test_sliding_window_second_granularity(spark, duck, sf_dir):
    """Multi-assignment correctness at a second (size, slide) pair:
    90 min / 30 min puts every event in exactly 3 windows (vs the
    registered query's 1 h / 15 min = 4). Guards the epoch-alignment
    arithmetic against being accidentally tuned to one granularity."""
    from pyspark.sql import functions as F

    from data_lake_with_spark_and_aws_s3_spark.functions.numeric import dec, money_sum
    from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table

    from .parity import assert_frames_match

    e = load_table(spark, sf_dir, "events")
    sp = (
        e.groupBy(F.window("ts", "90 minutes", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), money_sum(dec("value"), "sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .toPandas()
    )
    slide_us = 1_800_000_000  # 30 min
    du = duck.execute(f"""
        SELECT make_timestamp(((epoch_us(CAST(ts AS TIMESTAMP)) // {slide_us}) - g.i)
                              * {slide_us}) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(19,2))), 2) AS DOUBLE) AS sum_value
        FROM events, generate_series(0, 2) AS g(i)
        GROUP BY 1, 2
    """).fetchdf()
    assert_frames_match(sp, du, name="sliding_90m_30m")


def test_foreach_batch_upsert_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch upsert sink: drive the tumbling aggregate through
    the streaming engine into a parquet target, then RE-RUN the whole
    stream (simulating an epoch replay) — the target must equal the
    batch aggregate both times, proving the sink is idempotent (the
    at-least-once -> exactly-once contract of foreachBatch)."""
    from pyspark.sql import functions as F

    from data_lake_with_spark_and_aws_s3_spark.streaming.twins import (
        run_foreach_batch_upsert,
        stream_events,
        streaming_tumbling,
    )

    target = str(tmp_path / "upsert_target")
    events = stream_events(spark, sf_dir)
    agg = streaming_tumbling(events).select("hour_ts", "event_type", "n_events")
    # streaming upsert key: one row per (hour_ts, event_type) —
    # merge_upsert takes one key column, so pack them
    keyed = agg.select(
        F.concat_ws("|", F.col("hour_ts").cast("string"), "event_type").alias("k"),
        "hour_ts", "event_type", "n_events",
    )
    run_foreach_batch_upsert(keyed, target, "k")
    first = {tuple(r) for r in spark.read.parquet(target).collect()}

    # replay: the whole bounded stream re-runs; idempotent sink converges
    run_foreach_batch_upsert(keyed, target, "k")
    second = {tuple(r) for r in spark.read.parquet(target).collect()}
    assert first == second

    from data_lake_with_spark_and_aws_s3_spark import REGISTRY

    batch_df = (
        REGISTRY["q_events_tumbling"]
        .fn(spark, sf_dir)
        .select(
            F.concat_ws(
                "|", F.col("hour_ts").cast("string"), "event_type"
            ).alias("k"),
            "hour_ts",
            "event_type",
            "n_events",
        )
    )
    batch = {tuple(r) for r in batch_df.collect()}
    assert second == batch


def test_rate_source_streams(spark):
    """Non-file streaming source: the rate source generates
    (timestamp, value) rows through the real micro-batch engine — the
    offline stand-in proving the source abstraction isn't
    file-specific (kafka/kinesis swap in by format name)."""
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1000)
        .load()
        .withColumn("bucket", F.col("value") % 10)
        .writeStream.format("memory")
        .queryName("rate_smoke")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) AS n FROM rate_smoke").collect()[0].n
            if n > 0:
                break
            time.sleep(0.5)
        assert n > 0, "rate source produced no rows in 20s"
        buckets = spark.sql(
            "SELECT DISTINCT bucket FROM rate_smoke ORDER BY bucket"
        ).collect()
        assert all(0 <= r.bucket <= 9 for r in buckets)
    finally:
        q.stop()


def test_stream_static_join(spark, sf_dir):
    """Stream-static join: the micro-batched event stream enriched
    against a STATIC dimension (no watermark needed on the static
    side — it's re-read per epoch, the standard dimension-enrichment
    shape). Result must equal the batch join."""
    from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table
    from data_lake_with_spark_and_aws_s3_spark.streaming.twins import (
        run_to_memory,
        stream_events,
    )

    cust = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        stream_events(spark, SF)
        .join(cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    run_to_memory(enriched, "t_stream_static", output_mode="complete")
    got = {
        (r.c_mktsegment, r.n_events)
        for r in spark.sql("SELECT * FROM t_stream_static").collect()
    }
    e = load_table(spark, SF, "events")
    want = {
        (r.c_mktsegment, r.n_events)
        for r in e.join(cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want and got


def test_session_windows_under_rocksdb_state_store(spark, sf_dir):
    """The 100 TB state knob: session-window merging state held in the
    RocksDB state store (spills to local disk, bounded heap) must
    produce the exact same drained result as the default HDFS-backed
    in-memory provider."""
    from data_lake_with_spark_and_aws_s3_spark.streaming.twins import (
        run_to_memory,
        stream_events,
        streaming_session_window,
    )

    def drain(name):
        agg = streaming_session_window(stream_events(spark, sf_dir))
        run_to_memory(agg, name, output_mode="complete")
        return spark.table(name).toPandas().sort_values(
            ["user_id", "session_start"]
        ).reset_index(drop=True)

    key = "spark.sql.streaming.stateStore.providerClass"
    default = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        rocks = drain("rocksdb_sessions")
    finally:
        if default is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, default)
    base = drain("default_provider_sessions")
    assert len(rocks) > 0
    assert base.equals(rocks), "RocksDB state store changed the session result"


def test_checkpoint_resume_is_exactly_once(spark, sf_dir, tmp_path):
    """Source-offset tracking across restarts: run 1 processes file A;
    run 2 (same checkpoint) sees A+B in the directory but must emit
    ONLY B — no reprocessing, no gaps."""
    import glob

    src = tmp_path / "landing"
    tgt = tmp_path / "target"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "user_id", "event_type"
    )
    a = ev.filter("event_id % 2 = 0")
    b = ev.filter("event_id % 2 = 1")
    a.coalesce(1).write.mode("overwrite").parquet(str(src / "batch_a"))

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(tgt))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_after_a = spark.read.parquet(str(tgt)).count()
    assert n_after_a == a.count()
    # restart with file B landed; A is still in the directory
    b.coalesce(1).write.mode("overwrite").parquet(str(src / "batch_b"))
    run_once()
    out = spark.read.parquet(str(tgt))
    assert out.count() == ev.count(), "rows lost or reprocessed across restart"
    assert out.select("event_id").distinct().count() == ev.count(), (
        "duplicate event_ids: file A was reprocessed after resume"
    )


def test_page_hinkley_day_split_merge():
    """The stateful PH fn must converge to the single-batch trajectory
    when a calendar day spans two micro-batches (the ADVICE r7 latent
    divergence): the split day re-emits corrected with a higher seq,
    and max-seq-per-day equals the one-batch reference exactly. Also
    pins the silent held-day fold (later batch starts on a NEW day)
    and the ordered-replay guard (out-of-order day raises)."""
    import pandas as pd

    from data_lake_with_spark_and_aws_s3_spark.operators.events import (
        _sph_state_fn,
    )

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    def batch(rows):
        return pd.DataFrame(rows, columns=["series", "ts", "value"])

    rows = [
        (1, pd.Timestamp("2024-01-01 03:00"), 1.25),
        (1, pd.Timestamp("2024-01-01 09:00"), 2.00),
        (1, pd.Timestamp("2024-01-01 21:00"), 0.75),  # same day, batch 2
        (1, pd.Timestamp("2024-01-02 04:00"), 5.00),
        (1, pd.Timestamp("2024-01-03 01:00"), 0.10),  # batch 3 (new day)
    ]
    st = FakeState()
    out = pd.concat(
        [
            pd.concat(list(_sph_state_fn((1,), iter([batch(rows[:2])]), st))),
            pd.concat(list(_sph_state_fn((1,), iter([batch(rows[2:4])]), st))),
            pd.concat(list(_sph_state_fn((1,), iter([batch(rows[4:])]), st))),
        ]
    )
    # reader semantics: latest seq wins per day
    got = (
        out.sort_values("seq")
        .groupby("day", as_index=False)
        .last()
        .drop(columns=["seq"])
        .reset_index(drop=True)
    )
    st_ref = FakeState()
    ref = (
        pd.concat(list(_sph_state_fn((1,), iter([batch(rows)]), st_ref)))
        .drop(columns=["seq"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, ref)
    # split day emitted twice: partial (325 cents) then corrected (400)
    d1 = out[out["day"] == pd.Timestamp("2024-01-01")]
    assert list(d1["cents"]) == [325, 400]
    # ordered-replay guard: a day BEFORE the held day raises
    with pytest.raises(ValueError, match="ordered-replay"):
        list(
            _sph_state_fn(
                (1,),
                iter([batch([(1, pd.Timestamp("2024-01-01 05:00"), 9.0)])]),
                st,
            )
        )

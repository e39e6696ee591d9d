"""Reference-parity ETL tests (SURVEY.md §5.2 engine-local additions).

The reference ships no tests (SURVEY.md §5.1); these encode its
documented semantics: NextSong filter, dimension dedup rules, the
time-dim derivation, the natural-key fact join, partitioned layout.
Fixture JSON is generated per-test (tiny, deterministic) — the
driver's testdata has no song/log JSON, and ETL inputs are the one
place test-local fixtures are appropriate.
"""

from __future__ import annotations

import json
import os

import pytest

from data_lake_with_spark_and_aws_s3_spark.etl import run_pipeline

SONGS = [
    {"num_songs": 1, "artist_id": "A1", "artist_latitude": 35.0, "artist_longitude": -90.0,
     "artist_location": "Memphis", "artist_name": "Elvis", "song_id": "S1",
     "title": "Hound Dog", "duration": 136.0, "year": 1956},
    {"num_songs": 1, "artist_id": "A2", "artist_latitude": None, "artist_longitude": None,
     "artist_location": "", "artist_name": "Nina", "song_id": "S2",
     "title": "Feeling Good", "duration": 177.0, "year": 1965},
    # exact duplicate record (dedup must collapse it)
    {"num_songs": 1, "artist_id": "A1", "artist_latitude": 35.0, "artist_longitude": -90.0,
     "artist_location": "Memphis", "artist_name": "Elvis", "song_id": "S1",
     "title": "Hound Dog", "duration": 136.0, "year": 1956},
]


def _log(ts, user, song, artist, page="NextSong", level="free", session=1):
    return {
        "artist": artist, "auth": "Logged In", "firstName": f"F{user}",
        "gender": "F", "itemInSession": 0, "lastName": f"L{user}",
        "length": 100.0, "level": level, "location": "X", "method": "PUT",
        "page": page, "registration": 1.0, "sessionId": session, "song": song,
        "status": 200, "ts": ts, "userAgent": "ua", "userId": str(user),
    }


LOGS = [
    _log(1541990000000, 1, "Hound Dog", "Elvis"),
    _log(1541990060000, 1, "Feeling Good", "Nina", level="paid", session=2),
    _log(1541990120000, 2, "Unknown Song", "Nobody"),      # no song match -> null song_id
    _log(1541990180000, 2, "Hound Dog", "Elvis", page="Home"),  # filtered out
]


@pytest.fixture(scope="module")
def etl_out(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("sparkify")
    inp, outp = root / "input", root / "output"
    song_dir = inp / "song_data" / "A" / "A" / "A"
    log_dir = inp / "log_data" / "2018" / "11"
    os.makedirs(song_dir), os.makedirs(log_dir)
    for i, rec in enumerate(SONGS):
        (song_dir / f"s{i}.json").write_text(json.dumps(rec))
    (log_dir / "events.json").write_text("\n".join(json.dumps(r) for r in LOGS))
    tables = run_pipeline(spark, str(inp), str(outp))
    return str(outp), tables


def test_songs_dim(spark, etl_out):
    outp, _ = etl_out
    songs = spark.read.parquet(f"{outp}/songs")
    rows = {r["song_id"]: r for r in songs.collect()}
    assert set(rows) == {"S1", "S2"}  # duplicate S1 collapsed
    assert rows["S1"]["title"] == "Hound Dog"
    # partition columns survive the roundtrip (year, artist_id layout)
    assert {f.name for f in songs.schema.fields} == {
        "song_id", "title", "duration", "year", "artist_id"
    }
    # physical layout is partitioned: year=.../artist_id=... directories
    assert any(p.startswith("year=") for p in os.listdir(f"{outp}/songs"))


def test_artists_dim(spark, etl_out):
    outp, _ = etl_out
    artists = spark.read.parquet(f"{outp}/artists")
    rows = {r["artist_id"]: r for r in artists.collect()}
    assert set(rows) == {"A1", "A2"}
    assert rows["A1"]["name"] == "Elvis"
    assert rows["A2"]["latitude"] is None


def test_users_latest_level(spark, etl_out):
    outp, _ = etl_out
    users = spark.read.parquet(f"{outp}/users")
    rows = {r["user_id"]: r for r in users.collect()}
    # user 1 upgraded free -> paid; latest row wins
    assert rows["1"]["level"] == "paid"
    # user 2's only NextSong row counts; the Home row is excluded
    assert set(rows) == {"1", "2"}


def test_time_dim(spark, etl_out):
    outp, _ = etl_out
    time_dim = spark.read.parquet(f"{outp}/time")
    rows = time_dim.collect()
    assert len(rows) == 3  # three distinct NextSong timestamps
    r = {int(x["start_time"].timestamp() * 1000): x for x in rows}[1541990000000]
    assert (r["year"], r["month"], r["day"]) == (2018, 11, 12)
    assert r["hour"] == 2  # 2018-11-12T02:33:20Z (session tz = UTC)


def test_songplays_fact(spark, etl_out):
    outp, _ = etl_out
    sp = spark.read.parquet(f"{outp}/songplays").orderBy("songplay_id").collect()
    assert len(sp) == 3  # NextSong rows only
    ids = [r["songplay_id"] for r in sp]
    # surrogate key: unique, deterministic (pure function of the
    # natural key), strictly increasing in event order
    assert len(set(ids)) == 3 and ids == sorted(ids)
    ts_order = [r["songplay_id"] for r in sorted(sp, key=lambda r: (r["start_time"], r["session_id"]))]
    assert ts_order == ids
    by_user = {}
    for r in sp:
        by_user.setdefault(r["user_id"], []).append(r)
    # natural-key join resolved both known songs; unknown song -> null
    assert {r["song_id"] for r in by_user["1"]} == {"S1", "S2"}
    assert by_user["2"][0]["song_id"] is None


def test_idempotent_overwrite(spark, etl_out):
    outp, tables = etl_out
    # re-running must not duplicate rows (mode=overwrite semantics)
    before = spark.read.parquet(f"{outp}/songplays").count()
    from data_lake_with_spark_and_aws_s3_spark.etl import process_log_data

    inp = outp.replace("/output", "/input")
    process_log_data(spark, inp, outp)
    after = spark.read.parquet(f"{outp}/songplays").count()
    assert before == after


def test_small_files_control_file_count(spark):
    """coalesce(4) on write must produce exactly 4 data files."""
    import glob

    from data_lake_with_spark_and_aws_s3_spark.operators import sinks
    from data_lake_with_spark_and_aws_s3_spark.registry import REGISTRY

    REGISTRY["q_small_files_control"].fn(spark, "/root/testdata/sf0.01").collect()
    roots = sorted(glob.glob(f"{sinks._SCRATCH}/orders_coalesced_*/orders_coalesced"))
    assert roots, "sink did not write"
    files = glob.glob(f"{roots[-1]}/part-*.parquet")
    assert len(files) == 4, f"expected 4 coalesced files, found {len(files)}"


def _tracker(sc):
    """The status tracker once every job event posted so far has
    reached it: the listener bus feeds its store asynchronously."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sc.statusTracker()


def _clear_job_group(sc) -> None:
    for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def _sparkify_input(root, n_songs: int, logs: bool = True) -> str:
    """``n_songs`` one-song files spread over song_data/X/Y/Z (X, Y, Z
    in A-C), each with its own song and one of n_songs // 2 artists;
    optionally the LOGS day file."""
    inp = root / "input"
    for i in range(n_songs):
        d = inp / "song_data" / "ABC"[i % 3] / "ABC"[i // 3 % 3] / "ABC"[i // 9 % 3]
        os.makedirs(d, exist_ok=True)
        rec = dict(SONGS[0], song_id=f"S{i:03d}", artist_id=f"A{i % (n_songs // 2):03d}",
                   title=f"T{i}")
        (d / f"TR{i:03d}.json").write_text(json.dumps(rec))
    if logs:
        log_dir = inp / "log_data" / "2018" / "11"
        os.makedirs(log_dir)
        (log_dir / "events.json").write_text("\n".join(json.dumps(r) for r in LOGS))
    return str(inp)


def test_reads_list_on_the_driver(spark, tmp_path):
    """40 song files are past Spark's 32-path parallel-discovery
    threshold: a read of the expanded glob would launch a listing job
    with one task per file. The directory read lists on the driver."""
    from data_lake_with_spark_and_aws_s3_spark import etl

    inp = _sparkify_input(tmp_path, 40)
    sc = spark.sparkContext
    sc.setJobGroup("etl-read-listing", "etl read")
    try:
        songs = etl._read_json(spark, f"{inp}/song_data", etl.SONG_SCHEMA)
        log = etl._read_json(spark, f"{inp}/log_data", etl.LOG_SCHEMA)
        assert _tracker(sc).getJobIdsForGroup("etl-read-listing") == []
    finally:
        _clear_job_group(sc)
    assert songs.count() == 40 and log.count() == len(LOGS)

    outp = str(tmp_path / "output")
    run_pipeline(spark, inp, outp)
    assert spark.read.parquet(f"{outp}/songs").count() == 40
    assert spark.read.parquet(f"{outp}/artists").count() == 20


def test_artists_dim_keeps_the_most_complete_row(spark, tmp_path):
    """An artist whose song files disagree on location and coordinates
    gets its most complete row, ties to the smallest song_id, whatever
    order the files are listed or scanned in. Both orders (by path,
    and Spark's largest-file-first packing) meet S3's row first."""
    from data_lake_with_spark_and_aws_s3_spark.etl import process_song_data

    inp = tmp_path / "input"
    rows = [  # (dir, song_id, location, latitude, longitude), largest file first
        ("A/A/A", "S3", "Memphis, Tennessee, USA", 35.14968, -90.04892),
        ("B/B/B", "S2", "Tupelo, MS", 34.25807, -88.70464),
        ("C/C/C", "S1", "", None, None),
    ]
    for d, song_id, loc, lat, lon in rows:
        os.makedirs(inp / "song_data" / d)
        rec = dict(SONGS[0], song_id=song_id, title=f"T{song_id}", artist_location=loc,
                   artist_latitude=lat, artist_longitude=lon)
        (inp / "song_data" / d / f"TR{song_id}.json").write_text(json.dumps(rec))

    outp = str(tmp_path / "output")
    tables = process_song_data(spark, str(inp), outp)
    for artists in (tables["artists"], spark.read.parquet(f"{outp}/artists")):
        got = [r.asDict() for r in artists.collect()]
        assert got == [{"artist_id": "A1", "name": "Elvis", "location": "Tupelo, MS",
                        "latitude": 34.25807, "longitude": -88.70464}]


def test_pipeline_jobs_stay_in_the_callers_job_group(spark, tmp_path):
    """The two passes run on pool threads; their jobs must still carry
    the caller's job group, or tracing and cancellation lose them."""
    inp = _sparkify_input(tmp_path, 6)
    sc = spark.sparkContext
    before = set(_tracker(sc).getJobIdsForGroup(None))
    sc.setJobGroup("etl-pipeline-group", "etl pipeline")
    try:
        run_pipeline(spark, inp, str(tmp_path / "output"))
    finally:
        _clear_job_group(sc)
    tracker = _tracker(sc)
    assert tracker.getActiveJobsIds() == []
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    # both passes' writes: five tables, each at least one job
    assert len(tracker.getJobIdsForGroup("etl-pipeline-group")) >= 5


def test_pipeline_failure_raises_after_both_passes(spark, tmp_path):
    """A missing log_data directory fails the log pass at once; the
    error surfaces only after the song pass has written its tables,
    and no job is left running."""
    from pyspark.errors import AnalysisException

    inp = _sparkify_input(tmp_path, 6, logs=False)
    outp = str(tmp_path / "output")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        run_pipeline(spark, inp, outp)
    assert _tracker(spark.sparkContext).getActiveJobsIds() == []
    assert spark.read.parquet(f"{outp}/songs").count() == 6
    assert spark.read.parquet(f"{outp}/artists").count() == 3
    assert not os.path.exists(f"{outp}/songplays")

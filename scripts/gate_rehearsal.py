"""Driver-gate dress rehearsal, optionally under synthetic CPU load.

Replays exactly what the driver's correctness gate does each round:
a VANILLA SparkSession (no engine confs — the loader must self-set
nanos/UTC), the first 50 entries of __spark_entry__.queries() run in
order against their oracle_sql() twins at sf0.01, compared with the
driver's rules (row count + schema dtype-kind + order-insensitive
values; tests/parity.py). Reports per-query wall so prefix-budget
headroom is MEASURED, not extrapolated from idle-machine runs.

--load N forks N busy-spin processes for the duration (the
round-4 -> round-5 lesson: driver runs measured 25-40% slower than
idle across the board, so headroom claims need a loaded box).

Usage:
    python scripts/gate_rehearsal.py [--load N] [--sf DIR] [--top K]

Prints one row per query and a summary; exit 1 on any mismatch.
"""

from __future__ import annotations

import multiprocessing
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def _busy() -> None:
    x = 1.0
    while True:
        x = x * 1.0000001 % 1e9 + 1.0


def main() -> None:
    load = 0
    sf_dir = "/root/testdata/sf0.01"
    top = 50
    args = sys.argv[1:]
    for i, a in enumerate(args):
        if a == "--load":
            load = int(args[i + 1])
        elif a == "--sf":
            sf_dir = args[i + 1]
        elif a == "--top":
            top = int(args[i + 1])

    spinners = []
    if load:
        for _ in range(load):
            p = multiprocessing.Process(target=_busy, daemon=True)
            p.start()
            spinners.append(p)
        print(f"# {load} busy-spin processes running", file=sys.stderr)

    try:
        import duckdb
        from pyspark.sql import SparkSession

        import __spark_entry__ as entrymod
        from data_lake_with_spark_and_aws_s3_spark.sources.loader import TABLES
        from parity import assert_frames_match

        # vanilla session, the driver's way: no engine confs
        spark = (
            SparkSession.builder.master("local[32]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )

        qs = entrymod.queries()
        osql = entrymod.oracle_sql()
        names = list(qs)[:top]
        t_all = time.perf_counter()
        walls: list[tuple[str, float]] = []
        failures: list[str] = []
        for name in names:
            t0 = time.perf_counter()
            try:
                spdf = qs[name](spark, sf_dir).toPandas()
                odf = con.execute(osql[name]).fetchdf()
                assert_frames_match(spdf, odf, name=name)
                status = "ok"
            except Exception as exc:  # noqa: BLE001 — report, don't abort
                status = f"FAIL {type(exc).__name__}: {str(exc)[:120]}"
                failures.append(name)
            wall = time.perf_counter() - t0
            walls.append((name, wall))
            print(f"{name:45s} {wall:7.2f}s  {status}")
        total = time.perf_counter() - t_all
        walls.sort(key=lambda kv: -kv[1])
        print(
            f"\n# total {total:.1f}s for {len(names)} queries "
            f"(load={load}); slowest 5: "
            + ", ".join(f"{n}={w:.2f}s" for n, w in walls[:5])
        )
        if failures:
            print(f"# FAILURES: {failures}")
            sys.exit(1)
        spark.stop()
    finally:
        for p in spinners:
            p.terminate()


if __name__ == "__main__":
    main()

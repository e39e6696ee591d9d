"""Driver-gate dress rehearsal, optionally under synthetic CPU load.

Replays exactly what the driver's correctness gate does each round:
a VANILLA SparkSession (no engine confs — the loader must self-set
nanos/UTC), the first 50 entries of __spark_entry__.queries() run in
order against their oracle_sql() twins at sf0.01, compared with the
tier-1 rules (tests/parity.run_parity: row count + schema dtype-kind +
order-insensitive values, and a non-empty result). Reports per-query
wall so prefix-budget headroom is MEASURED, not extrapolated from
idle-machine runs.

--load N forks N busy-spin processes for the duration (the
round-4 -> round-5 lesson: driver runs measured 25-40% slower than
idle across the board, so headroom claims need a loaded box).

Usage:
    python scripts/gate_rehearsal.py [--load N] [--sf DIR] [--top K]

Prints one row per query and a summary; exit 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import multiprocessing
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _busy() -> None:
    x = 1.0
    while True:
        x = x * 1.0000001 % 1e9 + 1.0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--load", type=int, default=0)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--top", type=int, default=50)
    args = ap.parse_args()

    spinners = [multiprocessing.Process(target=_busy, daemon=True) for _ in range(args.load)]
    for p in spinners:
        p.start()
    if spinners:
        print(f"# {args.load} busy-spin processes running", file=sys.stderr)

    try:
        from pyspark.sql import SparkSession

        import __spark_entry__ as entrymod
        from data_lake_with_spark_and_aws_s3_spark.registry import QuerySpec
        from tests.parity import duck_views, run_parity

        # vanilla session, the driver's way: no engine confs
        spark = (
            SparkSession.builder.master("local[32]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        duck = duck_views(args.sf)

        qs = entrymod.queries()
        osql = entrymod.oracle_sql()
        names = list(qs)[: args.top]
        t_all = time.perf_counter()
        walls: list[tuple[str, float]] = []
        failures: list[str] = []
        for name in names:
            t0 = time.perf_counter()
            try:
                run_parity(spark, duck, QuerySpec(name, qs[name], osql[name]), args.sf)
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
            f"(load={args.load}); slowest 5: "
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

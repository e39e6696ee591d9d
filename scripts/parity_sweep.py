"""Full-registry ORACLE-parity sweep at an arbitrary scale directory
(round 8, session 3). The pytest gate proves parity at sf0.01; this
script proves it at 10x that (sf0.1 by default) — the scale where a
class of bugs the small gate cannot see starts firing (the motivating
find: Spark's `div` casts its result to LONG, so an intermediate
passing 2^63 only ABOVE sf0.01 wraps silently and both the suite and
the driver gate stay green while sf0.1 answers are garbage).

Chunked across fresh JVMs like determinism_check.py; each chunk's
session comes from session.get_spark, so SPARK_GRAFT_CPUS and
SPARK_DRIVER_MEMORY size it to the host. Each query gets a
wall budget; over-budget queries are reported as SLOW (not failures) so
quadratic *_exact_smallcorpus oracles cannot hang the sweep.

Usage: python scripts/parity_sweep.py [sf_dir] [--budget=SECONDS]
       (child mode: --child <sf_dir> <start> <end> <budget>)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_CHUNKS = 4


def _child(sf_dir: str, start: int, end: int, budget: float) -> None:
    import signal
    import time

    import duckdb

    from data_lake_with_spark_and_aws_s3_spark import REGISTRY
    from data_lake_with_spark_and_aws_s3_spark.session import get_spark
    from data_lake_with_spark_and_aws_s3_spark.sources.loader import TABLES
    from tests.parity import assert_frames_match

    spark = get_spark(app_name="parity-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    out: dict[str, str] = {}

    class _Timeout(Exception):
        pass

    def _alarm(signum, frame):
        raise _Timeout()

    signal.signal(signal.SIGALRM, _alarm)
    names = sorted(REGISTRY)
    for name in names[start:end]:
        spec = REGISTRY[name]
        if not spec.oracle:
            out[name] = "rows-only"
            continue
        t0 = time.perf_counter()
        signal.alarm(int(budget))
        try:
            spark_pdf = spec.fn(spark, sf_dir).toPandas()
            oracle_pdf = duck.execute(spec.oracle).fetchdf()
            assert_frames_match(spark_pdf, oracle_pdf, name=name)
            out[name] = f"ok:{time.perf_counter() - t0:.1f}s"
        except _Timeout:
            out[name] = f"SLOW:>{budget}s"
        except AssertionError as exc:
            out[name] = "MISMATCH: " + str(exc)[:500]
        except Exception as exc:  # noqa: BLE001
            out[name] = f"ERROR: {type(exc).__name__}: " + str(exc)[:500]
        finally:
            signal.alarm(0)
        print(f"# {name}: {out[name][:80]}", file=sys.stderr)
    print(json.dumps(out))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        _child(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]),
               float(sys.argv[5]))
        return
    sf_dir = next((a for a in sys.argv[1:] if not a.startswith("--")),
                  "/root/testdata/sf0.1")
    budget = float(next((a.split("=", 1)[1] for a in sys.argv
                         if a.startswith("--budget=")), "180"))
    from data_lake_with_spark_and_aws_s3_spark import REGISTRY

    n = len(REGISTRY)
    bounds = [(n * i // N_CHUNKS, n * (i + 1) // N_CHUNKS)
              for i in range(N_CHUNKS)]
    merged: dict[str, str] = {}
    for start, end in bounds:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child",
             sf_dir, str(start), str(end), str(budget)],
            capture_output=True, text=True, cwd=REPO, check=True,
        )
        merged.update(json.loads(p.stdout.strip().splitlines()[-1]))
        print(f"# chunk [{start}:{end}] done", file=sys.stderr)
    ok = sum(1 for v in merged.values() if v.startswith("ok"))
    slow = {k: v for k, v in merged.items() if v.startswith("SLOW")}
    bad = {k: v for k, v in merged.items()
           if v.startswith(("MISMATCH", "ERROR"))}
    print(f"PARITY SWEEP @{sf_dir}: {ok} ok / {len(slow)} slow "
          f"/ {len(bad)} failing / {len(merged)} total")
    for k, v in sorted(slow.items()):
        print(f"  SLOW {k}: {v}")
    for k, v in sorted(bad.items()):
        print(f"  FAIL {k}: {v}")
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()

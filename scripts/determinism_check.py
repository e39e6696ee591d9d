"""Registry-wide cross-JVM determinism check: run every registered
query in TWO fresh Spark JVMs and compare canonical value hashes.

Why this matters: the driver's correctness gate value-hashes each
query ONCE per round in a fresh JVM — a query whose output depends on
partition order / timestamps / RNG would flap round-over-round even
though any single parity run looks green. The repo's design rules
(exact decimal/int aggregation, total-order rankings, no
monotonically_increasing_id) exist precisely so this holds; this
script MEASURES it.

Usage: python scripts/determinism_check.py          # ~2x suite scan cost
       (child mode: --child <sf_dir> <start> <end>, prints one JSON line)

The registry is chunked across several fresh JVMs per run: one session
executing the full registry (419 queries as of round 7) at sf0.1
accumulates localCheckpoint blocks
and shuffle files until the JVM falls over — chunking also mirrors how
the driver actually executes (bounded work per session).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


N_CHUNKS = 4


def _child(sf_dir: str, start: int, end: int) -> None:
    import pandas as pd  # noqa: F401

    from data_lake_with_spark_and_aws_s3_spark import REGISTRY
    from data_lake_with_spark_and_aws_s3_spark.session import get_spark
    from tests.parity import _canon

    # SPARK_GRAFT_CPUS / SPARK_DRIVER_MEMORY size the session to the host
    spark = get_spark(app_name="determinism-check")
    spark.sparkContext.setLogLevel("ERROR")
    names = sorted(REGISTRY)
    out: dict[str, str] = {}
    for name in names[start:end]:
        pdf = _canon(REGISTRY[name].fn(spark, sf_dir).toPandas())
        csv = pdf.to_csv(index=False, float_format="%.17g")
        out[name] = hashlib.md5(csv.encode()).hexdigest()
    print(json.dumps(out))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        _child(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
        return
    from data_lake_with_spark_and_aws_s3_spark import REGISTRY

    n = len(REGISTRY)
    bounds = [(n * i // N_CHUNKS, n * (i + 1) // N_CHUNKS) for i in range(N_CHUNKS)]
    runs = []
    for i in range(2):
        merged: dict[str, str] = {}
        for start, end in bounds:
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child",
                 SF_DIR, str(start), str(end)],
                capture_output=True, text=True, cwd=REPO, check=True,
            )
            merged.update(json.loads(p.stdout.strip().splitlines()[-1]))
        runs.append(merged)
        print(f"run {i + 1}: {len(runs[-1])} queries hashed", file=sys.stderr)
    diff = {k for k in runs[0] if runs[0][k] != runs[1][k]}
    if diff:
        print(f"NON-DETERMINISTIC across JVMs: {sorted(diff)}")
        sys.exit(1)
    print(f"DETERMINISTIC: {len(runs[0])} queries hash-identical across fresh JVMs at {SF_DIR}")


if __name__ == "__main__":
    main()

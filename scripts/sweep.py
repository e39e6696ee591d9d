"""Full-registry sweep: oracle parity and cross-JVM determinism from one
run of every registered query.

Parity: tier-1 checks each oracle at sf0.01; this sweep applies the same
rules (tests/parity.run_parity, the non-empty check included) at any
scale directory, sf0.1 by default, the scale where a class of bugs the
small gate cannot see starts firing (the motivating find: Spark's `div`
casts its result to LONG, so an intermediate passing 2^63 only ABOVE
sf0.01 wraps silently while the suite and the driver gate stay green).

Determinism: the driver's correctness gate value-hashes each query ONCE
per round in a fresh JVM, so a query whose output depends on partition
order, timestamps or RNG would flap round over round although any single
parity run looks green. The run that gives a query its parity verdict
also gives its canonical value hash (tests/parity._canon, CSV with %.17g
floats, md5). `--runs 2` hashes the registry again in fresh JVMs (without
re-running the oracles) and fails on any hash that differs between runs.

sorted(REGISTRY) is split into N_CHUNKS chunks, each run in a fresh JVM
through bench.run_child: one session running the whole registry piles up
checkpoint blocks and shuffle files until it falls over. A chunk whose
JVM dies marks its queries CRASHED, and the other chunks still report.
Each query gets a wall budget; an over-budget query is reported SLOW, not
failed, so quadratic oracles cannot hang the sweep.

Usage: python scripts/sweep.py [sf_dir] [--budget SECONDS] [--runs N]

Prints one line per query (name, value hash, wall, verdict) and a
summary; exits 1 on any mismatch, error, crash or differing hash.
"""

from __future__ import annotations

import argparse
import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import ChildError, run_child  # noqa: E402

N_CHUNKS = 4
FAILED = ("MISMATCH", "ERROR", "CRASHED", "NONDETERMINISTIC")


def chunks(n: int) -> list[tuple[int, int]]:
    return [(n * i // N_CHUNKS, n * (i + 1) // N_CHUNKS) for i in range(N_CHUNKS)]


def _child(sf_dir: str, start: int, end: int, budget: float, oracles: bool) -> None:
    """Run sorted(REGISTRY)[start:end] in this JVM and print a JSON
    {name: [verdict, hash, wall]} dict as the last stdout line."""
    import hashlib
    import json
    import signal
    import time

    from data_lake_with_spark_and_aws_s3_spark import REGISTRY
    from data_lake_with_spark_and_aws_s3_spark.session import get_spark
    from tests.parity import _canon, duck_views, run_parity

    spark = get_spark(app_name="sweep")
    spark.sparkContext.setLogLevel("ERROR")
    duck = duck_views(sf_dir)

    def _alarm(signum, frame):
        raise TimeoutError

    signal.signal(signal.SIGALRM, _alarm)
    out: dict[str, list] = {}
    for name in sorted(REGISTRY)[start:end]:
        spec = REGISTRY[name]
        # the last of these lines names the query a dead JVM was running
        print(f"# {name}", file=sys.stderr, flush=True)
        digest = None
        t0 = time.perf_counter()
        signal.alarm(int(budget))
        try:
            if spec.oracle and oracles:
                pdf, verdict = run_parity(spark, duck, spec, sf_dir), "ok"
            else:
                pdf = spec.fn(spark, sf_dir).toPandas()
                verdict = "hashed" if spec.oracle else "rows-only"
            csv = _canon(pdf).to_csv(index=False, float_format="%.17g")
            digest = hashlib.md5(csv.encode()).hexdigest()
        except TimeoutError:
            spark.sparkContext.cancelAllJobs()
            verdict = f"SLOW:>{budget:g}s"
        except AssertionError as exc:
            verdict = "MISMATCH: " + str(exc)[:500]
        except Exception as exc:  # noqa: BLE001 — record it, run the next query
            verdict = f"ERROR: {type(exc).__name__}: " + str(exc)[:500]
        finally:
            signal.alarm(0)
        out[name] = [verdict, digest, round(time.perf_counter() - t0, 2)]
    print(json.dumps(out))


def sweep_once(names: list[str], sf_dir: str, budget: float, oracles: bool) -> dict[str, list]:
    """One pass over `names` (= sorted(REGISTRY)), one fresh JVM per chunk."""
    results: dict[str, list] = {}
    for start, end in chunks(len(names)):
        argv = [sys.executable, os.path.abspath(__file__), "--child",
                sf_dir, str(start), str(end), str(budget), str(int(oracles))]
        try:
            results.update(run_child(argv, f"sweep chunk [{start}:{end}]"))
        except ChildError as exc:
            print(exc, file=sys.stderr)
            for name in names[start:end]:
                results[name] = [f"CRASHED: exit {exc.returncode}", None, 0.0]
    return results


def merge(runs: list[dict[str, list]]) -> dict[str, list]:
    """One result per query: the first failed run's, else NONDETERMINISTIC
    when two runs hashed it differently, else the first run's."""
    out = {}
    for name, first in runs[0].items():
        results = [run[name] for run in runs]
        failed = [r for r in results if r[0].startswith(FAILED)]
        if failed:
            out[name] = failed[0]
        elif len({r[1] for r in results if r[1]}) > 1:
            out[name] = ["NONDETERMINISTIC", first[1], first[2]]
        else:
            out[name] = first
    return out


def main() -> None:
    if sys.argv[1:2] == ["--child"]:
        sf_dir, start, end, budget, oracles = sys.argv[2:7]
        _child(sf_dir, int(start), int(end), float(budget), oracles == "1")
        return
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--budget", type=float, default=180.0)
    ap.add_argument("--runs", type=int, default=1)
    args = ap.parse_args()
    from data_lake_with_spark_and_aws_s3_spark import REGISTRY

    names = sorted(REGISTRY)
    final = merge([
        sweep_once(names, args.sf_dir, args.budget, oracles=i == 0)
        for i in range(args.runs)
    ])
    for name, (verdict, digest, wall) in final.items():
        print(f"{name:50s} {digest or '-':32s} {wall:8.2f}s  {verdict}")
    kinds = Counter(verdict.split(":")[0] for verdict, _, _ in final.values())
    print(f"SWEEP @{args.sf_dir}, {args.runs} run(s): "
          + ", ".join(f"{n} {k}" for k, n in sorted(kinds.items()))
          + f" / {len(final)} total")
    if any(kinds[k] for k in FAILED):
        sys.exit(1)


if __name__ == "__main__":
    main()

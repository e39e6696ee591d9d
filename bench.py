"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`python bench.py NAME [NAME ...]` instead times the named registered
queries in one fresh child JVM under the extended protocol and prints
{name: median seconds}; an unregistered name fails the run.

Method mirrors BASELINE.md: wall-clock to full collect(), warm-up runs
per query (JVM/codegen warm), then median of timed runs.

Isolation methodology:
- round 3: the 5 headline queries run FIRST in their own child process
  with a fresh JVM — round 2 showed that sharing one session across all
  queries inflated headline numbers 7-21% (accumulated codegen cache /
  GC pressure), which read as phantom regressions round over round.
- round 4: the extended set is now ALSO isolated, one child JVM per
  FAMILY (VERDICT r3 #3) — with all ~22 extended queries in one JVM,
  late entries carried the drag of everything before them
  (q_duplicate_span_scrub measured ~3.5s clean vs 2-3x that in-suite),
  so extended numbers weren't comparable round over round. Families
  bound the JVM count (wall cap) while guaranteeing each family's
  FIRST-ORDER context is identical every round: a fresh JVM, one
  warm-up, median of 3. Within a family, order is fixed and documented;
  compare a query round-over-round only against the same family layout
  (layout changes are noted here when they happen).

The parent holds no SparkSession; it merges the phases and prints the
single JSON line. `run_child` is the fresh-JVM helper the other registry
runner (scripts/sweep.py) shares.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# The first five mirror BASELINE.md exactly; `value` sums ONLY these so
# the headline total stays apples-to-apples round over round.
HEADLINE = [
    "q1_pricing_summary",
    "q3_join_topk",
    "q_window_rank",
    "q_events_tumbling",
    "q_distinct_users",
]

# LLM-data-pipeline operators where the real cost lives at 100 TB —
# timed and reported per-query (not folded into the headline total).
# One child JVM per family; order within a family is fixed.
EXTENDED_FAMILIES: dict[str, list[str]] = {
    # NOTE round 3: q_minhash_lsh became the sketch-twin contract (runs
    # the xxhash64 throughput pipeline AND the md5 twin + precision
    # join) — its wall grew by design; compare r3+ numbers to r3, not
    # to the r1/r2 pair-emitting variant.
    # NOTE round 4: the name q_dedup_clusters now binds the
    # no-quadratic-stage composition (LSH edges via the md5 twin +
    # star-contraction CC, formerly q_dedup_clusters_lsh — compare its
    # numbers to r3's q_dedup_clusters_lsh entry). The blocked-quadratic
    # variant was renamed q_dedup_clusters_exact_smallcorpus and pulled
    # from the bench: its 26.7x-at-10x growth (SCALE.md) made its wall
    # a measurement of corpus-squared, not of the engine.
    "neardup": [
        "q_minhash_lsh",
        "q_dedup_clusters",
        "q_prefix_filter_pairs",
    ],
    "similarity": [
        "q_cosine_topk",
        "q_ann_pq_rerank",
        # round 5: driver-prefix flagship, benched after the star-CC +
        # oversized-bucket-refinement hardening (below the 256-row
        # split threshold — i.e. at every shipped SF — its keying and
        # output are bit-identical to the pre-refinement form)
        "q_semdedup",
    ],
    "corpus": [
        "q_curation_pipeline",
        "q_decontaminate",
        "q_repetition_signals",
        "q_repeated_ngram_profile",
        "q_duplicate_span_scrub",
    ],
    # round 9 (measurement-bug fix, declared in OPTIMIZATION_r09.md):
    # the heavy capstone gets its OWN child JVM. As the last query of
    # the shared corpus-family JVM it was bimodal (same code measured
    # 8-10 s in most runs and 47.9 s in one — accumulated JVM/GC state,
    # OPTIMIZATION_r08.md "Variance note"); isolating it makes its
    # number a property of the code again. Queries BEFORE it in the old
    # corpus family keep their exact context (it ran last), and the
    # name/protocol are unchanged, so round-over-round comparison holds.
    "capstone": [
        # round 4: the end-to-end recipe (rules -> LSH keep-best ->
        # decontamination) — the wall a user's actual pipeline pays
        "q_pretrain_corpus",
    ],
    "tpch": [
        "q9_product_profit",
        "q18_large_volume_customers",
        "q_gap_fill",
        "q_interval_union",
    ],
    "iterative": [
        "q_kmeans_lloyd",
        "q_bfs_hops",
        "q_label_propagation",
        "q_hits_hubs_authorities",
        "q_grid_dbscan",
    ],
    "retrieval": [
        "q_bm25_topk",
        "q_bigram_lm_score",
    ],
    # round 7: the new LLM-curation ops with data-proportional cost
    # (containment's df-capped posting join, winnowing's per-doc
    # min-windows, the unigram-LM CE gate) plus the histogram-ranked
    # statistic — first benched in r7, compare forward from there.
    "curation7": [
        "q_minhash_containment",
        "q_winnowing_fingerprint",
        "q_doc_perplexity_filter",
        "q_kruskal_wallis",
    ],
    # round 8: the new data-proportional shapes — image phash banding,
    # audio VAD frame fan-out (16x map-side explosion), CCNet
    # perplexity buckets (postings-proportional LM scoring join).
    # First benched in r8; compare forward from there.
    "multimodal8": [
        "q_image_phash_dedup",
        "q_audio_vad_segments",
        "q_ccnet_perplexity_buckets",
    ],
    # round-8 session 2: the remaining banded pair detectors (audio
    # fingerprint, simhash chunks) and the video derivative-threshold
    # segmentation. First benched in r8s2; compare forward from there.
    "neardup8": [
        "q_audio_fingerprint_dedup",
        "q_simhash_dedup",
        "q_video_scene_cuts",
    ],
}

EXTENDED = [n for fam in EXTENDED_FAMILIES.values() for n in fam]

# Headline gets the stabler protocol (2 warm-ups, median of 5): it IS
# the graded metric, and the first-query run in a cold JVM pays one-time
# codegen/FS-init costs a single warm-up doesn't fully amortize.
_PROTOCOL = {"headline": (2, 5), "extended": (1, 3)}


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


class ChildError(RuntimeError):
    """A child process exited non-zero or printed no JSON result."""

    def __init__(self, label: str, returncode: int, why: str, stderr: str) -> None:
        self.returncode = returncode
        self.tail = "\n".join(stderr.strip().splitlines()[-15:])
        super().__init__(f"{label} {why}; stderr tail:\n{self.tail}")


def run_child(argv: list[str], label: str, env: dict | None = None) -> dict:
    """Run `argv` to completion and return its LAST stdout line parsed as
    JSON (Spark noise goes to stderr, but stray stdout lines are
    tolerated). The fresh-JVM helper for every registry runner: a crashed
    child (OOM, import error) raises with its stderr tail instead of an
    opaque JSONDecodeError downstream."""
    proc = subprocess.run(argv, env=env, capture_output=True, text=True)
    if proc.returncode != 0:
        raise ChildError(label, proc.returncode, f"exited {proc.returncode}", proc.stderr)
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError) as e:
        raise ChildError(label, 0, f"printed no JSON result ({e})", proc.stderr) from e


def _phase_queries(phase: str) -> tuple[list[str], tuple[int, int]]:
    """`phase` is "headline", "family:<name>" or "names:<a>,<b>,..."."""
    kind, _, arg = phase.partition(":")
    if kind == "headline":
        return HEADLINE, _PROTOCOL["headline"]
    names = EXTENDED_FAMILIES[arg] if kind == "family" else arg.split(",")
    return names, _PROTOCOL["extended"]


def _run_phase(phase: str) -> None:
    """Child entry: time one phase's queries in this fresh JVM and print
    a JSON {name: median seconds} dict as the LAST stdout line."""
    from data_lake_with_spark_and_aws_s3_spark import REGISTRY
    from data_lake_with_spark_and_aws_s3_spark.session import get_spark

    names, (warmups, timed) = _phase_queries(phase)
    # a renamed query must fail the run, not vanish from its output
    if missing := [n for n in names if n not in REGISTRY]:
        sys.exit(f"not registered: {', '.join(missing)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"engine-bench-{phase.replace(':', '-')}")
    timings: dict[str, float] = {}
    for name in names:
        fn = REGISTRY[name].fn
        for _ in range(warmups):
            fn(spark, sf_dir).collect()
        runs = []
        for _ in range(timed):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(runs), 4)
    print(json.dumps(timings))
    spark.stop()


def _time_in_child(phase: str) -> dict[str, float]:
    env = dict(os.environ, SPARK_GRAFT_BENCH_PHASE=phase)
    return run_child([sys.executable, os.path.abspath(__file__)], f"bench child {phase!r}", env)


def main() -> None:
    if phase := os.environ.get("SPARK_GRAFT_BENCH_PHASE"):
        _run_phase(phase)
        return
    if names := sys.argv[1:]:
        print(json.dumps(_time_in_child("names:" + ",".join(names))))
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    timings: dict[str, float] = {}
    for phase in ["headline"] + [f"family:{f}" for f in EXTENDED_FAMILIES]:
        timings.update(_time_in_child(phase))
    # Emit in the canonical order (headline, then families) regardless
    # of merge order, so round-over-round diffs read cleanly.
    ordered = {n: timings[n] for n in HEADLINE + EXTENDED}
    total = round(sum(ordered[n] for n in HEADLINE), 4)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": ordered,
                "sf": _sf_from_dir(sf_dir),
            }
        )
    )


if __name__ == "__main__":
    main()

"""Partition-count invariance: the determinism contract must hold not
just across JVMs (scripts/sweep.py --runs 2) but across CLUSTER
SHAPES — the same query on 5 vs 32 shuffle partitions must value-hash
identically, because a 1000-executor production run will never use the
test harness's partition count. The repo's exactness rules (decimal /
integer aggregation, total-order rankings, no
monotonically_increasing_id, md5-keyed sampling) exist precisely so
re-partitioning cannot reorder its way into different floats.

Representatives cover the shapes that are most partition-sensitive:
multi-stage aggregation (q1), join+topk (q3), window ranks, LSH-banded
clustering (star CC rounds), stratified sampling, the round-5
Shapley lattice (window + bit_or aggregation over users), and two
round-6 shapes: the KNN-Shapley cumulative-window recursion (whose
nano-unit quantization exists exactly so re-partitioning cannot
reorder a float cumsum) and the Bradley-Terry integer MM iteration
(driver-loop state re-derived under both partition counts).
"""

from __future__ import annotations

import hashlib

import pytest

from data_lake_with_spark_and_aws_s3_spark import REGISTRY

SF = "/root/testdata/sf0.01"

REPRESENTATIVES = [
    "q1_pricing_summary",
    "q3_join_topk",
    "q_window_rank",
    "q_dedup_clusters",
    "q_stratified_sample",
    "q_shapley_attribution",
    "q_knn_shapley",
    "q_bradley_terry",
    # round-7: the two-phase range-partition rewrites — their whole
    # determinism claim is that sampled range boundaries (which move
    # with partition count) cannot change the output
    "q_sprt_boundary",
    "q_zipf_slope",
    "q_skyline",
    "q_kruskal_wallis",
    "q_systematic_pps_sample",
    "q_mmr_diversify",
    # round-8: the two-phase rfm rewrite (three independent range
    # exchanges joined back on custkey — the exact shape the r7
    # pid-pinning fix protects), phash banding (band-hash candidate
    # order must not leak into output), mood's median (two-phase
    # histogram cumulative feeding a broadcast threshold)
    "q_rfm_segments",
    "q_image_phash_dedup",
    "q_mood_median_test",
    # round-8 session-2: HT inherits the PPS two-phase re-derivation
    # (estimates must not move with the range exchange); audio
    # fingerprint banding is the phash claim on the 2-band layout
    "q_horvitz_thompson",
    "q_audio_fingerprint_dedup",
    # round-8 session-3: AB's doubled-score positions ride the
    # two-phase histogram prefix (the sampled-boundary claim again);
    # Dixon's extremes come from TakeOrdered limit-2 heaps whose
    # partial heaps move with partitioning but whose merged values
    # must not
    "q_ansari_bradley",
    "q_dixon_q",
]


def _value_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    canon = pdf[cols].sort_values(cols).reset_index(drop=True)
    return hashlib.md5(
        canon.to_csv(index=False, float_format="%.10g").encode()
    ).hexdigest()


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_partition_count_invariance(spark, name):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        h32 = _value_hash(REGISTRY[name].fn(spark, SF).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        h5 = _value_hash(REGISTRY[name].fn(spark, SF).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert h32 == h5, f"{name}: value hash differs across partition counts"

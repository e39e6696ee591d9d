"""Growth-curve sweep for the heavy operator families (VERDICT r2 #4):
run each at sf0.1 (real), 3x, and 10x (synthetic, scripts/gen_scale.py)
and report wall + the family's dominant intermediate ROW counts (the
shuffle currency), so sub-quadratic growth is measured, not argued.

Prints a markdown table for SCALE.md.

Usage: python scripts/growth_sweep.py [--quick]  (--quick: 1x/3x only)
"""

from __future__ import annotations

import functools
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from data_lake_with_spark_and_aws_s3_spark import REGISTRY  # noqa: E402
from data_lake_with_spark_and_aws_s3_spark.functions.textops import (  # noqa: E402
    shingles,
    tokens,
)
from data_lake_with_spark_and_aws_s3_spark.operators._edges import (  # noqa: E402
    copurchase_pair_weights,
    trade_edges,
)
from data_lake_with_spark_and_aws_s3_spark.session import get_spark  # noqa: E402
from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table  # noqa: E402


def shingle_stats(spark, sf_dir):
    """Posting-list rows: (doc, distinct 4-gram shingle) pairs."""
    return shingles(load_table(spark, sf_dir, "documents"), 4).select(F.explode("s")).count()


FAMILIES = {
    "q_prefix_filter_pairs": lambda spark, d: {"posting_rows": shingle_stats(spark, d)},
    "q_minhash_lsh": lambda spark, d: {
        "band_rows": load_table(spark, d, "documents").count() * 4
    },
    # round 4: this name now binds the LSH-banded + star-contraction
    # composition (the blocked-quadratic variant is
    # q_dedup_clusters_exact_smallcorpus — its 26.7x row in SCALE.md is
    # the round-3 measurement that drove the re-route)
    "q_dedup_clusters": lambda spark, d: {},
    "q_kmeans_lloyd": lambda spark, d: {
        "points": load_table(spark, d, "events").count()
    },
    "q_curation_pipeline": lambda spark, d: {},
    # round 4: the end-to-end recipe capstone (rules -> LSH keep-best
    # -> decontamination) — its curve is the one a user's whole
    # pipeline pays
    "q_pretrain_corpus": lambda spark, d: {
        "corpus_tokens": corpus_tokens(spark, d)
    },
    # round 3, session 2 additions
    "q_repeated_ngram_profile": lambda spark, d: {
        "gram_positions": gram_positions(spark, d)
    },
    "q_ann_pq_rerank": lambda spark, d: {
        "corpus": load_table(spark, d, "embeddings").count()
    },
    # round 3, session 3 additions
    "q_duplicate_span_scrub": lambda spark, d: {
        "gram_positions": gram_positions(spark, d)
    },
    # expected ~FLAT: the corpus collapses to a (word,count) table in
    # one pass; merge rounds run on vocabulary-sized data, and the
    # synthetic corpora share sf0.1's 31-word vocabulary
    "q_bpe_train": lambda spark, d: {},
    # q_bfs_hops / q_label_propagation: lineitem-driven, so they sweep
    # over the TILED graph corpora instead (GRAPH_FAMILIES below,
    # --graph mode; round 4 — closes the round-3 "not swept" caveat).
    # round 3, session 4 additions
    "q_bm25_topk": lambda spark, d: {
        "corpus_tokens": corpus_tokens(spark, d)
    },
    "q_bigram_lm_score": lambda spark, d: {
        "bigrams": corpus_tokens(spark, d)  # bigrams = tokens - docs ~ tokens
    },
    # round 3, session 5 additions
    "q_dsir_select": lambda spark, d: {
        "bigrams": corpus_tokens(spark, d)  # scoring join carries O(bigrams)
    },
    "q_ngram_novelty": lambda spark, d: {
        "gram_positions": gram_positions(spark, d)
    },
    "q_gopher_rules": lambda spark, d: {
        "corpus_tokens": corpus_tokens(spark, d)  # (doc,token) agg currency
    },
    # q_ml_minhash_lsh: approxSimilarityJoin explodes numHashTables
    # rows per doc before the bucket join — same O(n*tables) currency
    # as q_minhash_lsh's band rows
    "q_ml_minhash_lsh": lambda spark, d: {
        "hash_rows": load_table(spark, d, "documents").count() * 16
    },
    # round 3, session 7 additions (document-driven; lineitem-driven
    # ops: q_kcore_peel sweeps over the tiled graph corpora —
    # GRAPH_FAMILIES below; q_adamic_adar shares its edge shape)
    "q_submodular_coverage": lambda spark, d: {
        "shingle_rows": shingle_stats(spark, d)
    },
    "q_sorted_neighborhood": lambda spark, d: {
        "candidate_pairs": load_table(spark, d, "documents").count() * 3
    },
    "q_source_tv_distance": lambda spark, d: {
        "posting_rows": tf_posting_rows(spark, d)
    },
    "q_wasserstein_1d": lambda spark, d: {
        "grid_rows": support_grid_rows(spark, d)
    },
    # round 3, session 8 additions (events/embeddings-driven;
    # q_hits_hubs_authorities sweeps over the tiled graph corpora —
    # GRAPH_FAMILIES below)
    "q_grid_dbscan": lambda spark, d: {
        "points": load_table(spark, d, "embeddings").count(),
        "cells": occupied_cells(spark, d),
    },
    "q_bitmap_overlap": lambda spark, d: {
        "bitmap_words": bitmap_words(spark, d),
    },
    # round-8 session-3: the AB dispersion ranks ride the value
    # HISTOGRAM (distinct cents), not rows — currency is histogram size
    "q_ansari_bradley": lambda spark, d: {
        "distinct_values": load_table(spark, d, "events")
        .filter(F.col("event_type").isin("view", "error"))
        .select(F.round(F.col("value") * 100).cast("long").alias("x"))
        .distinct().count(),
    },
    "q_kmv_sketch": lambda spark, d: {
        "distinct_users": load_table(spark, d, "events")
        .select("user_id").distinct().count(),
    },
    # round 5: curve costs ONE train-gram pass (per-gram min bucket)
    # regardless of requested curve points — gram currency
    "q_ngram_coverage_curve": lambda spark, d: {
        "gram_positions": gram_positions(spark, d)
    },
    # round 5 (VERDICT r4 #3): the embedding-space dedup default —
    # SRP-band blocking -> exact-int cosine verify -> star CC. Currency
    # is the embedding count (band rows = 4x vectors; candidate pairs
    # bounded by band-bucket collisions, not n^2)
    "q_semdedup": lambda spark, d: {
        "vectors": load_table(spark, d, "embeddings").count()
    },
    # round 7 (VERDICT r6 #4): the round-6 heavy shapes whose scale
    # stories were argued, not measured.
    # KNN-Shapley: pair stage = 30-test panel x train corpus -> linear
    # in train vectors (the q_cosine_topk cost class)
    "q_knn_shapley": lambda spark, d: {
        "train_vectors": load_table(spark, d, "embeddings").count()
    },
    # SpaceSaving: shard summaries are capped (8 x 31 rows) regardless
    # of corpus size — the exact-twin side's token aggregate is the
    # only data-proportional stage
    "q_spacesaving_merge": lambda spark, d: {
        "corpus_tokens": corpus_tokens(spark, d)
    },
    # Kneser-Ney: continuation counts + the bigram-type aggregate;
    # currency is bigram tokens (~corpus tokens), and the final top-50
    # is TakeOrdered after the round-7 rewrite
    "q_kneser_ney_bigram": lambda spark, d: {
        "corpus_tokens": corpus_tokens(spark, d)
    },
    # round-7 additions with posting-bounded claims to verify
    # round 8: the new data-proportional shapes — phash banding (4
    # band rows/doc), VAD frame fan-out (16x bytes), CCNet buckets
    # (postings-proportional scoring join), JT (value-grid histogram)
    "q_image_phash_dedup": lambda spark, d: {
        "band_rows": load_table(spark, d, "documents").count() * 4
    },
    "q_audio_vad_segments": lambda spark, d: {},
    "q_ccnet_perplexity_buckets": lambda spark, d: {
        "corpus_tokens": corpus_tokens(spark, d)
    },
    "q_jonckheere_terpstra": lambda spark, d: {},
    "q_minhash_containment": lambda spark, d: {
        "posting_rows": shingle_stats(spark, d)
    },
    "q_winnowing_fingerprint": lambda spark, d: {
        "gram_positions": gram_positions(spark, d)
    },
    "q_doc_perplexity_filter": lambda spark, d: {
        "corpus_tokens": corpus_tokens(spark, d)
    },
    # two-phase global ranks must stay partition-parallel as the
    # value histogram grows
    "q_kruskal_wallis": lambda spark, d: {
        "distinct_lengths": load_table(spark, d, "documents")
        .select("n_chars").distinct().count()
    },
    # round-8 session-2: audio fingerprint banding (2 band rows per
    # qualifying doc), video scene frame fan-out (16x bytes, like VAD)
    "q_audio_fingerprint_dedup": lambda spark, d: {
        "band_rows": load_table(spark, d, "documents")
        .filter(F.length("text") >= 264).count() * 2
    },
    "q_video_scene_cuts": lambda spark, d: {
        "frame_rows": load_table(spark, d, "documents")
        .select((F.length("text") / 16).cast("long").alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    },
    # simhash pair detector: 4 chunk band rows per doc over the
    # checkpointed sketch
    "q_simhash_dedup": lambda spark, d: {
        "band_rows": load_table(spark, d, "documents").count() * 4
    },
}


def occupied_cells(spark, sf_dir):
    """Occupied grid cells = the size of ALL post-scan machinery."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            F.expr("(CAST(ROUND(CAST(embedding[0] AS DOUBLE) * 10000) AS BIGINT) + 10000) div 200").alias("cx"),
            F.expr("(CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT) + 10000) div 200").alias("cy"),
        )
        .distinct()
        .count()
    )


def bitmap_words(spark, sf_dir):
    """(type, word) rows = the pair join's shuffle currency."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_type", F.expr("user_id div 62").alias("w"))
        .distinct()
        .count()
    )


def tf_posting_rows(spark, sf_dir):
    """Distinct (source, term) rows = the pair join's posting currency."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("source", F.explode(tokens()).alias("t"))
        .groupBy("source", "t")
        .count()
        .count()
    )


def support_grid_rows(spark, sf_dir):
    """|sources| x |distinct n_chars| dense CDF grid size."""
    d = load_table(spark, sf_dir, "documents")
    ns = d.select("n_chars").distinct().count()
    srcs = d.select("source").distinct().count()
    return ns * srcs


def gram_positions(spark, sf_dir):
    """Total 8-gram positions = the shuffle currency of the df join."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.greatest(F.size(tokens()) - 7, F.lit(0)).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )




def corpus_tokens(spark, sf_dir):
    """Token count = the shuffle currency of the tf/df and bigram
    model builds."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(F.size(tokens()).alias("n")).agg(F.sum("n")).collect()[0][0]


# Iterative graph family (VERDICT r3 #5): the document-corpus scale
# dirs symlink orders/lineitem to sf0.1, so these ops were never swept.
# They sweep over the TILED graph corpora from gen_scale.py --graph
# (.scratch/graph{3,10}x: mult disjoint copies of the sf0.1 trade
# graph, |E| exactly linear in mult, degree distribution preserved).
# Run with --graph to sweep this family instead of FAMILIES.
GRAPH_FAMILIES = {
    # edge currency: rows of the symmetric trade-graph edge list
    # (2 x distinct (custkey, suppkey) trade pairs)
    "q_bfs_hops": lambda spark, d: {"trade_edges": trade_edge_count(spark, d)},
    "q_bfs_delta_frontier": lambda spark, d: {
        "trade_edges": trade_edge_count(spark, d)
    },
    "q_hits_hubs_authorities": lambda spark, d: {
        "trade_edges": trade_edge_count(spark, d)
    },
    # edge currency: distinct part-part co-purchase pairs (the
    # per-order quadratic term is bounded by order size, so the count
    # itself is linear in orders)
    "q_label_propagation": lambda spark, d: {
        "copurchase_edges": copurchase_pair_count(spark, d)
    },
    "q_kcore_peel": lambda spark, d: {
        "copurchase_edges": copurchase_pair_count(spark, d)
    },
    # round-8 session-3: per-edge triangle support — the wedge join
    # shares q_adamic_adar's sum(deg^2) envelope; currency is the edge
    # count
    "q_truss_support": lambda spark, d: {
        "copurchase_edges": copurchase_pair_count(spark, d)
    },
    # round 7: seed-teleport PPR — same per-iteration dataflow as
    # q_pagerank but rank vectors stay sparse; the sweep shows wall
    # growing with the edge list, not with reached-set blowup
    "q_personalized_pagerank": lambda spark, d: {
        "trade_edges": trade_edge_count(spark, d)
    },
    # round-8 session-2: per-node LCC shares the triangle family's
    # sum(deg^2) wedge-join bound
    "q_local_clustering": lambda spark, d: {
        "copurchase_edges": copurchase_pair_count(spark, d)
    },
}

# round 6 (VERDICT r5 #5): the executed streaming near-dup gate —
# currency is the map-only band-row fan-out (4 lanes per arriving doc,
# derived IN-ROW so it never shuffles pre-join) plus the static index
# size; state is keyed by matched pairs, which is the output row count
# the sweep already reports (n_out), so "state proportional to true
# duplication" is directly visible in the table.
FAMILIES["q_streaming_neardup_exec"] = lambda spark, d: {
    "arrival_band_rows": load_table(spark, d, "documents")
    .filter(F.col("doc_id") % 2 == 1).count() * 4,
    "index_band_rows": load_table(spark, d, "documents")
    .filter(F.col("doc_id") % 2 == 0).count() * 4,
}


@functools.cache
def trade_edge_count(spark, sf_dir):
    """Rows of the symmetric trade-graph edge list, counted once per
    scale dir."""
    return trade_edges(spark, sf_dir).count()


@functools.cache
def copurchase_pair_count(spark, sf_dir):
    """Distinct part-part co-purchase pairs, counted once per scale
    dir: copurchase_pair_weights re-derives the whole basket self-join
    on every call, so the number is cached here instead."""
    return copurchase_pair_weights(spark, sf_dir).count()


def main() -> None:
    quick = "--quick" in sys.argv
    graph = "--graph" in sys.argv
    only = [a.split("=", 1)[1] for a in sys.argv if a.startswith("--only=")]
    families = GRAPH_FAMILIES if graph else FAMILIES
    if only:
        names = set(only[0].split(","))
        unknown = names - set(families)
        if unknown:
            raise SystemExit(f"--only names not in FAMILIES: {sorted(unknown)}")
        for k in list(families):
            if k not in names:
                del families[k]
    scratch_prefix = "graph" if graph else "sf"
    scales = [a.split("=", 1)[1] for a in sys.argv if a.startswith("--scales=")]
    labels = scales[0].split(",") if scales else (
        ["1x", "3x"] if quick else ["1x", "3x", "10x"])
    dirs = [
        (lb, "/root/testdata/sf0.1" if lb == "1x"
         else f"{REPO}/.scratch/{scratch_prefix}{lb}")
        for lb in labels
    ]
    spark = get_spark(app_name="growth-sweep")
    rows = []
    if graph:
        # The co-purchase edge derivation (operators/_edges.py) is
        # shared code, not a shared checkpoint: every co-purchase row
        # below re-derives it inside its own wall. Time it alone once
        # per scale dir, so the table shows how much of each of those
        # walls is derivation. The untimed first derivation (the count
        # the rows' aux reuses) takes the JVM and scan warm-up the
        # family rows do not pay, so the timed one is a second, fresh
        # derivation.
        for label, d in dirs:
            n_pairs = copurchase_pair_count(spark, d)
            t0 = time.perf_counter()
            copurchase_pair_weights(spark, d).count()
            wall = time.perf_counter() - t0
            rows.append(
                ("shared_copurchase_derivation", label, round(wall, 2),
                 n_pairs, {})
            )
            print(
                f"# shared_copurchase_derivation @{label}: {wall:.2f}s "
                f"pairs={n_pairs}",
                file=sys.stderr,
            )
    for name, aux in families.items():
        fn = REGISTRY[name].fn
        for label, d in dirs:
            extras = aux(spark, d)
            t0 = time.perf_counter()
            # time construction + noop sink: iterative operators (CC,
            # Lloyd) do their rounds at construction time, and the noop
            # v2 sink executes EVERY column (count() lets Catalyst prune
            # whole stages) without driver-collect serialization
            df = fn(spark, d)
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            n_out = df.count()
            rows.append((name, label, round(wall, 2), n_out, extras))
            print(f"# {name} @{label}: {wall:.2f}s out={n_out} {extras}",
                  file=sys.stderr)
    print("| family | scale | wall s | output rows | key intermediates |")
    print("|---|---|---|---|---|")
    for name, label, wall, n_out, extras in rows:
        ex = ", ".join(f"{k}={v:,}" for k, v in extras.items()) or "—"
        print(f"| {name} | {label} | {wall} | {n_out:,} | {ex} |")
    spark.stop()


if __name__ == "__main__":
    main()

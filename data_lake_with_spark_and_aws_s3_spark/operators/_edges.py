"""Shared edge derivations for the graph family: the part co-purchase
graph and the customer<->supplier trade graph.

Seven graph queries (q_label_propagation, q_modularity,
q_copurchase_triangles, q_degree_assortativity, q_adamic_adar,
q_kcore_peel, q_truss_support) analyze the SAME part co-purchase graph: nodes are
parts, an edge joins two parts appearing in one order. Before round 5
each derived it independently — a lineitem self-join on l_orderkey
plus a pair aggregate, by far the family's largest constant (the 10x
tiled-graph sweep measured k-core's 93.7 s wall as mostly edge
derivation, and the suite paid that six times per session).

This module derives the WEIGHTED pair table and localCheckpoints it;
every consumer is a filter over the checkpoint:

    copurchase_pair_weights -> (pa, pb, w)   pa < pb, w = co-order count
    copurchase_edges(min_weight=1)          distinct undirected edges
    copurchase_edges(min_weight=2)          the LPA/modularity backbone

The single groupBy(pa, pb) aggregate subsumes both prior physical
shapes (DISTINCT is the w >= 1 projection of the weighted aggregate;
the weight floor is a filter), so no consumer's result changes and no
oracle changes — each query's DuckDB SQL still derives its own edges.

At 100 TB this is the bucketed-edge-table pattern (operators/skew.py
write_bucketed): pay the basket self-join once, persist partitioned by
pa, and every downstream algorithm joins shuffle-free. In-session,
localCheckpoint is the same amortization without a named table.

Round 8 (optimization): the per-(application, sf_dir) memo that used
to live here is GONE. It handed the second and later invocations of
any consumer — including the bench's warm-up -> timed runs — the
first run's checkpointed edges instead of re-deriving them, i.e.
cross-run result caching, which the bench methodology forbids. Each
call now derives the pair table fresh; the eager localCheckpoint
remains because every consumer's iterative loop references the edges
many times WITHIN its own run.

trade_edges is the symmetric customer<->supplier edge list that
PageRank, personalized PageRank and both BFS queries walk. It is left
unmaterialized: PageRank and BFS-hops checkpoint it eagerly, delta BFS
lazily (its whole run is one job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.loader import load_table


def copurchase_pair_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pa, pb, w) with pa < pb and w = number of orders containing
    both parts — the canonical weighted co-purchase pair table,
    derived fresh per call and localCheckpoint'ed for within-run reuse.

    Scale: the self-join is keyed on l_orderkey (per-order baskets
    only — the quadratic term is bounded by basket size, so |pairs| is
    linear in |orders|); the pair aggregate is one shuffle. |pairs| <<
    |lineitem|^2 and the checkpoint holds three longs per pair."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Round 9 (guide §3.1, "pick the join strategy deliberately"): the
    # basket self-join is SHUFFLE_HASH, not the default sort-merge —
    # both sides are the same narrow (orderkey, partkey) projection, so
    # the SMJ's two per-partition sorts were pure overhead (measured at
    # sf0.1: the derivation fell 2.97 s -> 1.29 s isolated-warm, and
    # q_label_propagation 4.59 -> 3.0 s). Scale posture: the build side
    # of each partition is one shuffle-partition of (long, long) rows —
    # AQE sizes those to the advisory target on a real cluster, so the
    # hash table stays partition-sized at 100 TB.
    a, b = li.alias("a"), li.hint("SHUFFLE_HASH").alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=True)
    )


def copurchase_edges(
    spark: SparkSession, sf_dir: str, min_weight: int = 1
) -> DataFrame:
    """Undirected distinct edges (pa, pb), pa < pb, optionally floored
    to pairs co-ordered >= min_weight times. A narrow filter over the
    pair table this call derives and checkpoints."""
    pw = copurchase_pair_weights(spark, sf_dir)
    if min_weight > 1:
        pw = pw.filter(F.col("w") >= min_weight)
    return pw.select("pa", "pb")


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undirected customer<->supplier trade graph as a symmetric
    (src, dst) edge list: one row per direction of each distinct
    (o_custkey, l_suppkey) pair traded through orders |><| lineitem,
    node ids namespaced arithmetically (customer -> 2k, supplier ->
    2k+1). Unmaterialized: each caller (PageRank, PPR, both BFS
    queries) checkpoints it the way its own loop needs."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    e0 = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return e0.unionAll(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

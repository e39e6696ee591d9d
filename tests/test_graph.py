"""Connected components cross-checked against an independent
union-find over the same edge set (zero shared code with either the
Spark star contraction or the DuckDB recursive CTE)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lake_with_spark_and_aws_s3_spark import REGISTRY
from data_lake_with_spark_and_aws_s3_spark.operators.graph import connected_components
from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table

SF = "/root/testdata/sf0.01"


def _union_find(edges, vertices):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min member id
    comp = {}
    for v in vertices:
        comp.setdefault(find(v), []).append(v)
    return {v: min(members) for members in comp.values() for v in members}


def test_components_match_union_find(spark):
    """The exact-recall variant must match a third-algorithm union-find
    over independently rebuilt blocked-Jaccard edges."""
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["q_dedup_clusters_exact_smallcorpus"].fn(spark, SF).collect()
    }
    # rebuild the same edge set independently
    d = load_table(spark, SF, "documents")
    toks = F.array_distinct(F.filter(F.split("text", " "), lambda x: x != ""))
    t = d.select("doc_id", "lang", "source", toks.alias("ts")).collect()
    docs = {}
    for r in t:
        docs[r["doc_id"]] = (r["lang"], r["source"], set(r["ts"]))
    ids = sorted(docs)
    edges = []
    for i, a in enumerate(ids):
        la, sa, ta = docs[a]
        for b in ids[i + 1 :]:
            lb, sb, tb = docs[b]
            if (la, sa) != (lb, sb):
                continue
            inter = len(ta & tb)
            if inter and inter / (len(ta) + len(tb) - inter) >= 0.8:
                edges.append((a, b))
    expected = _union_find(edges, ids)
    assert out == expected


def test_components_handle_isolated_and_chain(spark):
    """Synthetic topology: a 3-chain (a-b, b-c), a pair, an isolated
    vertex — transitivity and isolation both exercised."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src long, dst long")
    vertices = spark.createDataFrame([(v,) for v in [1, 2, 3, 10, 11, 99]], "id long")
    got = {r["id"]: r["component"] for r in connected_components(edges, vertices).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_star_variant_converges_on_long_chain(spark, monkeypatch):
    """A 200-node path has diameter 199 — min-label propagation would
    need ~200 rounds; star contraction must finish in O(log^2 n)
    (well under _CC_MAX_ROUNDS) and still label every node with the
    chain min.
    The round-8 driver union-find short-circuit is DISABLED here so
    the distributed star loop itself stays exercised."""
    from data_lake_with_spark_and_aws_s3_spark.operators import graph

    monkeypatch.setattr(graph, "_CC_DRIVER_MAX_EDGES", 0)
    n = 200
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    vertices = spark.createDataFrame([(v,) for v in range(n)], "id long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, vertices).collect()
    }
    assert got == {v: 0 for v in range(n)}


def test_cc_raises_when_distributed_loop_does_not_converge(spark, monkeypatch):
    """With the driver union-find disabled and a one-round cap, the
    star loop cannot reach its fixpoint on a chain: it must raise, not
    return half-contracted labels."""
    from data_lake_with_spark_and_aws_s3_spark.operators import graph

    monkeypatch.setattr(graph, "_CC_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(graph, "_CC_MAX_ROUNDS", 1)
    edges = spark.createDataFrame([(i, i + 1) for i in range(19)], "src long, dst long")
    vertices = spark.createDataFrame([(v,) for v in range(20)], "id long")
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(edges, vertices)


def test_cc_driver_shortcircuit_matches_distributed(spark, monkeypatch):
    """Round-8 small-graph short-circuit: below _CC_DRIVER_MAX_EDGES
    connected_components labels via a driver union-find. Both branches must
    produce IDENTICAL (id, component) maps on the same graph —
    including isolated vertices, multi-component graphs, and edges
    given in arbitrary orientation."""
    from data_lake_with_spark_and_aws_s3_spark.operators import graph

    rows = [(9, 2), (2, 5), (10, 11), (7, 7), (3, 2), (12, 10), (6, 13)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    vertices = spark.createDataFrame([(v,) for v in range(14)], "id long")
    expected = {0: 0, 1: 1, 2: 2, 3: 2, 4: 4, 5: 2, 6: 6, 7: 7, 8: 8,
                9: 2, 10: 10, 11: 10, 12: 10, 13: 6}
    fast = {r["id"]: r["component"] for r in connected_components(edges, vertices).collect()}
    assert fast == expected, "driver branch wrong"
    monkeypatch.setattr(graph, "_CC_DRIVER_MAX_EDGES", 0)
    dist = {r["id"]: r["component"] for r in connected_components(edges, vertices).collect()}
    assert dist == expected, "distributed branch wrong"


def test_cc_driver_shortcircuit_string_ids(spark, monkeypatch):
    """Round-9 regression test for the round-8 q_golden_record crash:
    the driver union-find short-circuit must handle STRING vertex ids
    (entity-resolution graphs use part names) and agree exactly with
    the distributed branch, preserving the string dtype."""
    from data_lake_with_spark_and_aws_s3_spark.operators import graph

    rows = [("bolt", "new bolt"), ("new bolt", "newer bolt"), ("cam", "camshaft")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    names = ["bolt", "new bolt", "newer bolt", "cam", "camshaft", "gear"]
    vertices = spark.createDataFrame([(v,) for v in names], "id string")
    expected = {"bolt": "bolt", "new bolt": "bolt", "newer bolt": "bolt",
                "cam": "cam", "camshaft": "cam", "gear": "gear"}
    out = connected_components(edges, vertices)
    assert dict(out.dtypes) == {"id": "string", "component": "string"}
    fast = {r["id"]: r["component"] for r in out.collect()}
    assert fast == expected, "driver branch wrong on string ids"
    monkeypatch.setattr(graph, "_CC_DRIVER_MAX_EDGES", 0)
    dist = {r["id"]: r["component"] for r in connected_components(edges, vertices).collect()}
    assert dist == expected, "distributed branch wrong on string ids"


def test_shared_frames_recompute_per_invocation(spark):
    """Round-8 freshness contract (inverts the round-5 memo the
    optimization pass removed as cross-run result caching): a second
    call must return a NEW frame — every invocation derives its own
    edges / cluster labels — and repeated computes must agree exactly.
    tests/test_pin.py proves the same for pin()-based midframes."""
    from data_lake_with_spark_and_aws_s3_spark.operators._edges import (
        copurchase_pair_weights,
    )
    from data_lake_with_spark_and_aws_s3_spark.operators.graph import (
        _lsh_cluster_compute,
        _lsh_cluster_frame,
    )

    e1 = copurchase_pair_weights(spark, SF)
    e2 = copurchase_pair_weights(spark, SF)
    assert e1 is not e2, "memoized edge frame is back — cross-run caching"
    assert sorted(map(tuple, e1.collect())) == sorted(map(tuple, e2.collect()))

    c1 = _lsh_cluster_frame(spark, SF)
    c2 = _lsh_cluster_frame(spark, SF)
    assert c1 is not c2, "memoized cluster frame is back — cross-run caching"
    labels = {(r["doc_id"], r["cluster_id"]) for r in c1.collect()}
    fresh = {
        (r["doc_id"], r["cluster_id"])
        for r in _lsh_cluster_compute(spark, SF).collect()
    }
    assert labels == fresh, "repeated computes must agree exactly"


def test_capstone_rides_checkpointed_cluster_midframe(spark):
    """q_pretrain_corpus' plan must read the cluster labels from the
    checkpointed midframe (LogicalRDD 'Scan ExistingRDD'), not replay
    the MinHash + band-join + CC pipeline inside its own plan."""
    from data_lake_with_spark_and_aws_s3_spark.operators.graph import (
        _lsh_cluster_frame,
    )

    _lsh_cluster_frame(spark, SF)  # warm the midframe
    df = REGISTRY["q_pretrain_corpus"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan[:2000]

"""Property-based identity pins (hypothesis) for round-5 load-bearing
equivalences — randomized inputs catch the edge shapes fixtures miss:

- connected_components == union-find ground truth on arbitrary
  edge lists (the round-5 semdedup/cluster CC path; the fixture suite
  covers near-dup-shaped and chain graphs, this covers the rest).
- neardup.ml_bands_maponly == the explode+aggregate band derivation
  (q_streaming_neardup_exec's stream side relies on min-over-exploded
  == array_min-over-array being exactly true for every input).

Example counts are deliberately small (Spark round-trips are ~1s
each); shrinking still works when a counterexample appears.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_EX = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _uf_components(n_vertices: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_vertices))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min vertex id in component
    out: dict[int, int] = {}
    for v in range(n_vertices):
        r = find(v)
        out[v] = min(out.get(r, r), r)
    # second pass: min id per root
    roots: dict[int, int] = {}
    for v in range(n_vertices):
        r = find(v)
        roots[r] = min(roots.get(r, v), v)
    return {v: roots[find(v)] for v in range(n_vertices)}


@settings(**_EX)
@given(
    st.integers(min_value=2, max_value=24).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(
                st.tuples(
                    st.integers(0, n - 1), st.integers(0, n - 1)
                ).filter(lambda e: e[0] != e[1]),
                max_size=40,
            ),
        )
    )
)
def test_star_cc_matches_union_find(spark, case):
    n, edges = case
    vertices = spark.range(n).select(F.col("id"))
    from data_lake_with_spark_and_aws_s3_spark.operators.graph import (
        connected_components,
    )

    if edges:
        edf = spark.createDataFrame(edges, "src long, dst long")
    else:
        edf = spark.createDataFrame([], "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(edf, vertices).collect()
    }
    assert got == _uf_components(n, edges)


_WORD = st.text(alphabet="abcd", min_size=1, max_size=4)


@settings(**_EX)
@given(st.lists(st.lists(_WORD, min_size=1, max_size=12), min_size=1, max_size=6))
def test_maponly_bands_match_aggregate_bands(spark, docs):
    from data_lake_with_spark_and_aws_s3_spark.operators.neardup import (
        _ML_SEEDS,
        _ml_lane,
        ml_bands_maponly,
    )

    d = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    maponly = {
        (r["doc_id"], r["band"], r["bh"])
        for r in ml_bands_maponly(d).collect()
    }
    # the explode + aggregate derivation (q_minhash_lsh_exact's shape)
    toks = F.split("text", " ")
    starts = F.when(
        F.size(toks) >= 4, F.sequence(F.lit(0), F.size(toks) - 4)
    ).otherwise(F.array().cast("array<int>"))
    shingles = F.array_distinct(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 4)))
    )
    arr = d.select("doc_id", shingles.alias("s")).filter(F.size("s") > 0)
    ex = arr.select("doc_id", F.explode("s").alias("shingle"))
    dg = ex.select(
        "doc_id",
        F.md5(F.concat(F.col("shingle"), F.lit("#0"))).alias("d0"),
        F.md5(F.concat(F.col("shingle"), F.lit("#1"))).alias("d1"),
    )
    hv = dg.select(
        "doc_id",
        *[
            F.expr(
                "CAST(conv(substr({d}, {off}, 4), 16, 10) AS BIGINT)".format(
                    d=_ml_lane(i)[0], off=_ml_lane(i)[1]
                )
            ).alias(f"h{i}")
            for i in range(_ML_SEEDS)
        ],
    )
    sig = hv.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(_ML_SEEDS)]
    )
    agg = set()
    for b in range(4):
        rows = sig.select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    "_", *[F.col(f"m{4 * b + j}").cast("string") for j in range(4)]
                )
            ).alias("bh"),
        ).collect()
        agg |= {(r["doc_id"], b, r["bh"]) for r in rows}
    assert maponly == agg

"""Blocked fuzzy matching (record linkage): approximate string join
via blocking key + edit-distance verify — the entity-resolution
operator family, built like neardup.py's candidate/verify split:
never compare all pairs, only pairs sharing a cheap block key.

Block = the last token of the product name (p_name is "adjective
noun"); candidate pairs form inside each block via an equi-join the
planner shuffles on the block key, then levenshtein() verifies. Per
block the work is quadratic — same honesty as the exact-Jaccard
baseline in neardup.py:51: fine when blocks are bounded (product
vocabularies, normalized address fields), and the MinHash-LSH path in
neardup.py:97 is the blocking strategy when they aren't.

levenshtein() is an integer algorithm — identical in Spark and DuckDB
— and the similarity ratio is one int/int division (correctly rounded
double in both engines), so the whole operator is exactly
oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.loader import load_table
from ._twophase import global_order_stats

MAX_DIST = 3


@query(
    "q_fuzzy_join",
    oracle=f"""
    WITH names AS (
      SELECT DISTINCT p_name AS name,
             string_split(p_name, ' ')[-1] AS block
      FROM part
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
           1.0 - levenshtein(a.name, b.name)
                 / CAST(greatest(len(a.name), len(b.name)) AS BIGINT)
             AS similarity
    FROM names a
    JOIN names b ON a.block = b.block AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {MAX_DIST}
    """,
    tags=("join", "fuzzy", "record-linkage", "blocking"),
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-matching product-name pairs: block on the noun, verify
    with levenshtein <= 3, score with a normalized similarity ratio.
    The plan is an equi-join on the block key (shuffle-safe) with the
    edit-distance predicate evaluated post-join inside codegen."""
    p = load_table(spark, sf_dir, "part")
    names = p.select(
        F.col("p_name").alias("name"),
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    ).distinct()
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .filter(dist <= MAX_DIST)
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            dist.cast("long").alias("dist"),
            (
                F.lit(1.0)
                - dist
                / F.greatest(F.length("a.name"), F.length("b.name")).cast("long")
            ).alias("similarity"),
        )
    )


# --- Entity-resolution capstone: golden record (survivorship) --------

@query(
    "q_golden_record",
    oracle=f"""
    WITH names AS (
      SELECT DISTINCT p_name AS name,
             string_split(p_name, ' ')[-1] AS block
      FROM part
    ),
    e AS (
      SELECT a.name AS src, b.name AS dst
      FROM names a
      JOIN names b ON a.block = b.block AND a.name < b.name
      WHERE levenshtein(a.name, b.name) <= {MAX_DIST}
    ),
    sym AS (
      SELECT src, dst FROM e
      UNION
      SELECT dst, src FROM e
      UNION
      SELECT name, name FROM names
    ),
    reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, s.dst FROM r JOIN sym s ON s.src = r.dst
      ) SELECT * FROM r
    ),
    clusters AS (
      SELECT src AS name, MIN(dst) AS cluster_id FROM reach GROUP BY src
    ),
    members AS (
      SELECT c.cluster_id, p.p_partkey, p.p_name, p.p_brand, p.p_retailprice
      FROM part p JOIN clusters c ON c.name = p.p_name
    ),
    brand_votes AS (
      SELECT cluster_id, p_brand, COUNT(*) AS votes,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY COUNT(*) DESC, p_brand) AS rk
      FROM members GROUP BY cluster_id, p_brand
    )
    ,
    agg AS (
      SELECT cluster_id,
             CAST(MIN(p_partkey) AS BIGINT) AS golden_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_name_variants,
             CAST(MAX(p_retailprice) AS DOUBLE) AS golden_price
      FROM members GROUP BY cluster_id
    )
    SELECT a.cluster_id, a.golden_partkey, a.n_members, a.n_name_variants,
           b.p_brand AS golden_brand, a.golden_price
    FROM agg a JOIN brand_votes b
      ON b.cluster_id = a.cluster_id AND b.rk = 1
    """,
    tags=("record-linkage", "entity-resolution", "golden-record", "capstone"),
)
def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution capstone — the MDM golden-record pipeline:
    fuzzy name pairs (q_fuzzy_join's blocked levenshtein, reused
    verbatim) grown to transitive entity clusters, then SURVIVORSHIP
    rules pick each entity's canonical attributes: plurality-vote
    brand (deterministic (votes DESC, brand) tie-break), earliest
    partkey as the surviving id, max observed price. Pairs alone
    under-merge (A~B, B~C); the closure is what makes the entity.

    Plan: blocked candidate pairs (equi-join on the block key) ->
    star-contraction components (graph.connected_components) -> one
    members join on name -> two small keyed aggregates (votes,
    survivorship). Nothing is pairwise outside the bounded blocks.
    Oracle: same pipeline with a recursive-CTE closure."""
    from .graph import connected_components

    p = load_table(spark, sf_dir, "part")
    names = p.select(
        F.col("p_name").alias("name"),
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    ).distinct()
    a = names.select(F.col("name").alias("src"), "block")
    b = names.select(F.col("name").alias("dst"), F.col("block").alias("b2"))
    pairs = (
        a.join(b, (F.col("block") == F.col("b2")) & (F.col("src") < F.col("dst")))
        .filter(F.levenshtein("src", "dst") <= MAX_DIST)
        .select("src", "dst")
    )
    vertices = names.select(F.col("name").alias("id"))
    cc = connected_components(pairs, vertices)
    clusters = cc.select(F.col("id").alias("p_name"), F.col("component").alias("cluster_id"))
    members = p.join(clusters, "p_name").select(
        "cluster_id", "p_partkey", "p_name", "p_brand", "p_retailprice"
    )
    votes = (
        members.groupBy("cluster_id", "p_brand")
        .agg(F.count(F.lit(1)).alias("votes"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.desc("votes"), F.asc("p_brand")
                )
            ),
        )
    )
    golden_brand = votes.filter(F.col("rk") == 1).select(
        "cluster_id", F.col("p_brand").alias("golden_brand")
    )
    return (
        members.groupBy("cluster_id")
        .agg(
            F.min("p_partkey").alias("golden_partkey"),
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("p_name").alias("n_name_variants"),
            F.max("p_retailprice").alias("golden_price"),
        )
        .join(golden_brand, "cluster_id")
        .select(
            "cluster_id",
            "golden_partkey",
            "n_members",
            "n_name_variants",
            "golden_brand",
            "golden_price",
        )
    )


@query(
    "q_sorted_neighborhood",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lower(substr(text, 1, 16)) AS k
      FROM documents
    ),
    ranked AS MATERIALIZED (
      SELECT doc_id, k,
             CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS BIGINT) AS rn
      FROM keyed
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(b.rn - a.rn AS BIGINT) AS gap,
           CAST(levenshtein(a.k, b.k) AS BIGINT) AS lev
    FROM ranked a JOIN ranked b
      ON b.rn BETWEEN a.rn + 1 AND a.rn + 3
    WHERE levenshtein(a.k, b.k) <= 6
    """,
    tags=("dedup", "blocking", "sorted-neighborhood", "record-linkage"),
)
def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking — the classic record-linkage
    candidate generator that LSH complements: sort by a blocking key
    (here the lowercased 16-char text prefix), slide a window of 3,
    and emit rank-adjacent pairs whose keys are within levenshtein 6.
    Candidates are O(w*N), not O(N^2), and both engines agree exactly
    (ROW_NUMBER over the unique (key, doc_id) order; levenshtein is
    the standard DP metric in both).

    Scale: global ranks come from _twophase.global_order_stats
    (range repartition + per-partition row_number + tiny offset
    broadcast — no single-task window); adjacency then joins on the
    rn-div-4 bucket (each left row probes 2 buckets) with the rank
    residual, the same bucket-equi shape as the range join — never a
    rank-cross product. Edit distance runs only on the 3N surviving
    candidate pairs."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", F.lower(F.substring("text", 1, 16)).alias("k")
    )
    ranked = global_order_stats(
        keyed, [F.asc("k"), F.asc("doc_id")]
    ).localCheckpoint()  # feeds both sides of the adjacency join
    a = ranked.select(
        F.col("doc_id").alias("d1"),
        F.col("k").alias("k1"),
        F.col("rn").alias("rn1"),
        F.explode(
            F.array(
                (F.col("rn") / 4).cast("long"),
                (F.col("rn") / 4).cast("long") + 1,
            )
        ).alias("probe"),
    )
    b = ranked.select(
        F.col("doc_id").alias("d2"),
        F.col("k").alias("k2"),
        F.col("rn").alias("rn2"),
        (F.col("rn") / 4).cast("long").alias("bucket"),
    )
    return (
        a.join(
            b,
            (F.col("bucket") == F.col("probe"))
            & (F.col("rn2") >= F.col("rn1") + 1)
            & (F.col("rn2") <= F.col("rn1") + 3),
        )
        .filter(F.levenshtein("k1", "k2") <= 6)
        .select(
            "d1",
            "d2",
            (F.col("rn2") - F.col("rn1")).alias("gap"),
            F.levenshtein("k1", "k2").cast("long").alias("lev"),
        )
    )

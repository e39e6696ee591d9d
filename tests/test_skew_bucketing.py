"""Physical-distribution operators: salted join equivalence, bucketed
join shuffle elimination, ANN recall vs the exact baseline."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_with_spark_and_aws_s3_spark import REGISTRY
from data_lake_with_spark_and_aws_s3_spark.operators.layout import write_bucketed
from data_lake_with_spark_and_aws_s3_spark.operators.skew import salted_join
from data_lake_with_spark_and_aws_s3_spark.plans import count_exchanges, formatted_plan
from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table

SF = "/root/testdata/sf0.01"


def test_salted_join_equivalence(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(o, "l_orderkey").groupBy("l_orderkey").count()
    salted = salted_join(li, o, "l_orderkey").groupBy("l_orderkey").count()
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_bucketed_join_eliminates_shuffle(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_b", "l_orderkey", 8)
    write_bucketed(o, "o_b", "o_orderkey", 8)
    lib, ob = spark.table("li_b"), spark.table("o_b")
    joined = lib.join(ob, lib.l_orderkey == ob.o_orderkey)
    # co-bucketed sort-merge join: no Exchange on either side
    plan = formatted_plan(joined)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    if "BroadcastHashJoin" not in plan:  # broadcast would trivially avoid shuffles
        assert count_exchanges(joined) == 0, plan
    # and it still returns the right rows
    assert joined.count() == load_table(spark, SF, "lineitem").count()
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")


def test_ann_ivf_recall(spark):
    """IVF recall vs the exact twin. These embeddings are isotropic
    (no cluster structure), so the theoretical ceiling is ~the probed
    fraction (nprobe=4 of 10 cells) — the bound asserts the pipeline
    beats a broken assignment, not magic."""
    exact = REGISTRY["q_cosine_topk"].fn(spark, SF).collect()
    approx = REGISTRY["q_ann_ivf"].fn(spark, SF).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.3, f"IVF recall@5 too low even for isotropic data: {recall}"


def test_aqe_skew_join_runtime_split(spark):
    """AQE's runtime answer to skew (complementing the manual salted
    join above): a join where one key holds half the rows must come
    out of execution with the skewed partition SPLIT — the plan says
    SortMergeJoin(skew=true). Thresholds are lowered to make local
    data 'big'; forceOptimizeSkewedJoin accepts the extra shuffle the
    split costs (at real scale the default cost model decides).
    Correctness is asserted alongside the plan shape."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 400_000).select(
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-payload-payload-"), F.col("id").cast("string")).alias("v"),
        )
        right = spark.range(0, 2_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        rows = j.count()
        # hot key 0: 200k left rows x 1 right row; other matches: odd ids < 2000
        assert rows == 200_000 + 1_000
        j.collect()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        assert "skew=true" in buf.getvalue(), "AQE did not split the skewed partition"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ann_ivf_kmeans_recall(spark):
    """Learned-codebook IVF (Lloyd cells, nprobe=4): the query now
    emits its own recall contract vs the in-job brute-force top-5
    (round-3 sketch-twin redesign) — assert the contract holds with
    margin: every query returns a full top-5 and overlaps the exact
    top-5 by >= 2 (measured 3-5 at every shipped SF)."""
    rows = REGISTRY["q_ann_ivf_kmeans"].fn(spark, SF).collect()
    assert len(rows) == 10
    assert all(r["n_results"] == 5 for r in rows)
    assert all(r["recall_ge_2of5"] for r in rows)


def test_salted_join_agg_plans_shuffle_join(spark):
    """q_salted_join_agg must exercise the salted SHUFFLE join —
    without the shuffle_hash hint Catalyst broadcasts the
    16x-replicated side (~300 MiB build at sf0.1, fatal at scale),
    which makes the salting demonstration vacuous."""
    from data_lake_with_spark_and_aws_s3_spark import REGISTRY

    df = REGISTRY["q_salted_join_agg"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan

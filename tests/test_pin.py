"""Invocation-scope contract for pin(): in-query persist may reuse a
midframe WITHIN one query run, but a re-invocation must recompute from
the parquet inputs — the bench times warm runs, and any CacheManager
entry or module memo surviving a run makes those timings measure cache
reads, which the methodology forbids.

Covers the pin() scope itself (behaviorally: an accumulator counts
actual recomputation — DataFrame.storageLevel is canonical-PLAN-keyed,
so it cannot distinguish run 1's entry from run 2's identical-plan
entry), scope isolation between threads sharing one session, recompute
after block loss, and the two formerly-memoized shared frames
(_edges.copurchase_pair_weights, graph._lsh_cluster_frame).
"""

from __future__ import annotations

import sys
import threading

import pytest
from pyspark.sql import functions as F

from data_lake_with_spark_and_aws_s3_spark import REGISTRY
from data_lake_with_spark_and_aws_s3_spark.operators import (
    _edges,
    _pin,
    layout,
    multimodal,
    neardup,
    stats,
)
from data_lake_with_spark_and_aws_s3_spark.operators._pin import pin
from data_lake_with_spark_and_aws_s3_spark.registry import SCOPE, _scoped

from .parity import assert_frames_match

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def pinned(monkeypatch):
    """Every frame the registered queries pin(), in call order, seen
    through each call site's module binding of pin."""
    frames = []

    def record(*args, **kwargs):
        frames.append(_pin.pin(*args, **kwargs))
        return frames[-1]

    for mod in (layout, multimodal, neardup, stats):
        monkeypatch.setattr(mod, "pin", record)
    return frames


def _cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def _drop_cached_blocks(spark) -> None:
    """Simulate a lost executor: remove every cached block while the
    CacheManager entries stay registered, so the next read of a pinned
    frame finds no blocks and must recompute them from lineage."""
    sc = spark.sparkContext
    master = sc._jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    for rdd_id in sc._jsc.getPersistentRDDs().keySet().toArray():
        master.removeRdd(int(rdd_id), True)


def test_pin_outside_a_query_raises(spark):
    with pytest.raises(RuntimeError):
        pin(spark.range(3))


def test_pin_recomputes_on_reinvocation(spark):
    """The leak this guards against: .persist()/.cache() register by
    canonicalized plan, so a second invocation building the SAME plan
    silently reads the first invocation's blocks. With pin(), the
    accumulator must count BOTH runs' rows."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        calls.add(1)
        return x * 2

    # same udf object -> identical canonical plan on every invocation
    build = _scoped(
        lambda spark_, sf_dir_: pin(spark_.range(100).select(bump("id").alias("v")))
    )

    df1 = build(spark, SF_DIR)
    assert df1.count() == 100
    assert calls.value == 100
    df2 = build(spark, SF_DIR)
    assert df2.agg(F.sum("v")).collect()[0][0] == 9900
    assert calls.value == 200, (
        "re-invocation read the previous run's cache instead of "
        "recomputing — the cross-run leak pin() exists to prevent"
    )
    # within-run reuse still works: a second consumer of df2 is served
    # from the (fresh) cache, not a third computation
    assert df2.count() == 100
    assert calls.value == 200


def test_pins_of_one_invocation_coexist(spark):
    frames = []

    def two_pins(spark_, sf_dir_):
        frames.extend(pin(spark_.range(10).select(F.col("id").alias(c))) for c in "ab")
        return frames[0].crossJoin(frames[1])

    assert _scoped(two_pins)(spark, SF_DIR).count() == 100
    assert len(frames) == 2 and all(_cached(f) for f in frames)


def test_copurchase_edges_not_memoized_across_calls(spark):
    assert not hasattr(_edges, "_CACHE"), "module memo is back"
    e1 = _edges.copurchase_pair_weights(spark, SF_DIR)
    e2 = _edges.copurchase_pair_weights(spark, SF_DIR)
    # fresh derivation per call: distinct checkpointed RDD lineages,
    # identical content
    assert e1.rdd.id() != e2.rdd.id(), (
        "copurchase_pair_weights returned a shared frame across calls "
        "— cross-run result caching"
    )
    assert sorted(map(tuple, e1.collect())) == sorted(map(tuple, e2.collect()))


def test_lsh_cluster_frame_not_memoized_across_calls(spark):
    from data_lake_with_spark_and_aws_s3_spark.operators import graph

    assert not hasattr(graph, "_LSH_CLUSTER_CACHE"), "module memo is back"
    f1 = graph._lsh_cluster_frame(spark, SF_DIR)
    f2 = graph._lsh_cluster_frame(spark, SF_DIR)
    assert f1.rdd.id() != f2.rdd.id(), (
        "_lsh_cluster_frame returned a shared frame across calls — "
        "cross-run result caching"
    )
    assert sorted(map(tuple, f1.collect())) == sorted(map(tuple, f2.collect()))


@pytest.mark.parametrize("name", ["q_minhash_containment", "q_cached_reuse",
                                  "q_chi_square", "q_minhash_lsh"])
def test_pinned_queries_reinvoke_fresh(spark, pinned, name):
    """End-to-end: a re-invocation of a pin()-using query pins NEW
    frames at build time (the accumulator test above proves the
    recompute behaviorally) and returns identical rows."""
    fn = REGISTRY[name].fn
    r1 = fn(spark, SF_DIR).collect()
    first = list(pinned)
    assert first, f"expected {name} to pin at least one midframe"
    df2 = fn(spark, SF_DIR)  # build only — pin() runs at build time
    second = pinned[len(first):]
    assert len(second) == len(first)
    assert all(b is not a for a, b in zip(first, second)), (
        f"{name}: re-invocation kept the previous run's pinned frame"
    )
    assert sorted(map(tuple, r1)) == sorted(map(tuple, df2.collect()))


def test_cross_query_pins_cleared_on_next_query_entry(spark, pinned):
    """A query invocation must not be able to read ANOTHER query's
    pinned blocks. pin() keeps blocks registered in the CacheManager
    after a query's collect (lineage-kept persist), and CacheManager
    matches by canonicalized plan — so the guarantee is enforced at
    query ENTRY: the registry wrapper unpersists the frames this
    context's previous query pinned before the new query builds."""
    REGISTRY["q_minhash_containment"].fn(spark, SF_DIR).collect()
    (shingles,) = pinned
    assert _cached(shingles), "expected containment's pin to outlive its collect"
    df_b = REGISTRY["q_minhash_lsh"].fn(spark, SF_DIR)
    assert not _cached(shingles), (
        "query B's entry left query A's pinned blocks alive "
        "(cross-query cache channel)"
    )
    df_b.collect()


def test_capstone_nested_queries_keep_component_pins(spark):
    """A capstone calling component queries through REGISTRY mid-build
    must NOT release its own earlier pins: nested entries join the
    outer scope, and only a top-level entry releases."""
    seen = {}

    def capstone(spark_, sf_dir_):
        # a midframe this capstone pins for its own consumers...
        seeded = pin(spark_.range(7).select(F.col("id").alias("seed")))
        seeded.count()
        # ...must survive a nested registered-query call mid-build
        REGISTRY["q_chi_square"].fn(spark_, sf_dir_)
        seen["alive"] = _cached(seeded)
        seen["scope"] = list(SCOPE.get())
        return seeded

    out = _scoped(capstone)(spark, SF_DIR)
    assert seen["alive"], "nested query entry released the outer query's pins"
    assert len(seen["scope"]) == 2, "the component's pin must join the outer scope"
    assert seen["scope"][0] is out
    assert isinstance(SCOPE.get(), tuple), "the scope must close on return"
    assert _cached(out), "pins must outlive the query function's return"


def _rows_key(rows) -> str:
    return repr(sorted(map(tuple, rows)))


def test_concurrent_queries_keep_each_others_pins(spark, pinned):
    """Two registered queries on one session from two threads: thread B
    entering its query must not release the frame thread A pinned and
    has not consumed yet, and both results equal a sequential run."""
    a_name, b_name = "q_minhash_containment", "q_cached_reuse"
    expect_a = _rows_key(REGISTRY[a_name].fn(spark, SF_DIR).collect())
    expect_b = _rows_key(REGISTRY[b_name].fn(spark, SF_DIR).collect())
    del pinned[:]
    out = {}

    def build_a():
        out["a"] = REGISTRY[a_name].fn(spark, SF_DIR)

    def run_b():
        out["b"] = REGISTRY[b_name].fn(spark, SF_DIR).collect()

    for target in (build_a, run_b):
        t = threading.Thread(target=target)
        t.start()
        t.join(timeout=300)
        assert not t.is_alive()
    assert set(out) == {"a", "b"}, "a query thread raised"
    a_frame = pinned[0]
    assert _cached(a_frame), (
        "thread B's query entry unpersisted thread A's in-flight pin"
    )
    assert _rows_key(out["a"].collect()) == expect_a
    assert _rows_key(out["b"]) == expect_b


def test_many_threads_each_keep_their_own_pins(spark):
    """More threads than cores pin at a short switch interval: round one
    runs concurrently, round two in turn (each thread enters after the
    previous one returned, so no entry overlaps another invocation).
    After every thread's second entry, each thread's latest pin must
    still be cached — no entry may release another context's frames."""
    n_threads = 8
    barrier = threading.Barrier(n_threads, timeout=120)
    turns = [threading.Event() for _ in range(n_threads + 1)]
    turns[0].set()
    latest, errors = {}, []

    def pin_distinct(spark_, i):
        return pin(spark_.range(i + 1).select(F.col("id").alias(f"t{i}")))

    def worker(i):
        try:
            latest[i] = _scoped(pin_distinct)(spark, i)
            barrier.wait()
            assert turns[i].wait(timeout=120)
            latest[i] = _scoped(pin_distinct)(spark, i)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)
        finally:
            turns[i + 1].set()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not errors and not any(t.is_alive() for t in threads)
    assert all(_cached(latest[i]) for i in range(n_threads))


def test_pinned_query_survives_block_loss(spark, duck, sf_dir, pinned):
    """pin() keeps lineage: when a pinned frame's cached blocks vanish
    between its consumers, the rest of the query recomputes them and
    still matches the oracle."""
    spec = REGISTRY["q_minhash_lsh"]
    df = spec.fn(spark, sf_dir)
    assert len(pinned) == 2
    for frame in pinned:  # first consumers: materialize the blocks
        frame.count()
    _drop_cached_blocks(spark)
    assert all(_cached(f) for f in pinned), "entries stay registered"
    oracle = duck.execute(spec.oracle).fetchdf()
    assert_frames_match(df.toPandas(), oracle, name=spec.name)


def test_pin_recomputes_lost_blocks(spark):
    """The accumulator form of the block-loss check: the second consumer
    of a pinned frame recomputes exactly the lost blocks."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        calls.add(1)
        return x

    df = _scoped(lambda spark_, sf_dir_: pin(spark_.range(50).select(bump("id").alias("v"))))(
        spark, SF_DIR
    )
    assert df.count() == 50 and calls.value == 50
    _drop_cached_blocks(spark)
    assert df.agg(F.sum("v")).collect()[0][0] == 1225
    assert calls.value == 100, "lost blocks were not recomputed from lineage"

"""Invocation-scoped in-query persist: reuse WITHIN one query run,
never across runs.

``persist()`` registers a frame in the session's CacheManager keyed by
its canonicalized logical plan, and a registered query builds the same
plan on every invocation, so a bare persist lets a later run (bench
warm-up -> timed runs, a different query sharing a subplan) read this
run's blocks: measured on q_minhash_containment at sf0.1, run 1 took
15.2 s and run 2 2.6 s off the first run's cache. Every invocation must
compute from its parquet inputs.

``pin(df)`` persists a multi-consumer midframe, keeping lineage (a lost
executor recomputes blocks, unlike localCheckpoint), and appends it to
the pin scope of the current context (``registry.SCOPE``). The
registry wrapper opens that scope at a top-level query entry, after
unpersisting the frames this context's previous top-level invocation
pinned; nested entries join it. The frames stay cached after the
query function returns, because ``collect()`` runs after it.

``session.RUNTIME_CONFS`` sets
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``. Spark
4.1 defaults it to false, which keeps a cached plan's output
partitioning as planned, so the last stage of every pinned plan read
its shuffle with all ``spark.sql.shuffle.partitions`` tasks, even for a
few hundred rows. With it on, AQE coalesces that stage like any other
(q_minhash_lsh on perfbench's seed-1 tables: 20 -> 17 jobs a call,
same result). It can add a shuffle where a consumer relied on the
cached frame's hash partitioning; no pinned query got slower at sf0.1
(``tests/test_pin.py`` checks the task counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from ..registry import SCOPE


def pin(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """persist() ``df`` for the consumers of the current query run."""
    scope = SCOPE.get()
    if not isinstance(scope, list):
        raise RuntimeError("pin() called outside a registered query invocation")
    scope.append(df.persist(level) if level is not None else df.persist())
    return scope[-1]

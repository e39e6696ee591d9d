"""Distributed PageRank over the customer<->supplier trade graph —
the second iterative graph operator (alongside graph.py's connected
components), built the way GraphX/Pregel builds it: ranks live in a
(node, rank) DataFrame, each iteration is one edge-join (contributions
flow along edges) plus one hash aggregate (incoming mass per node),
i.e. exactly two key-shuffles per iteration, never an all-pairs
anything. Iteration count is FIXED (3) so the whole computation is a
deterministic, oracle-checkable dataflow (same pattern as
clustering.py's Lloyd steps: fixed iterations => expressible as a
chained CTE in the oracle).

Exactness ([[oracle-exactness-playbook]]): double sums are
order-dependent, so ranks are kept as SCALED INT64 (1.0 == 10^12).
Every step is integer arithmetic that both engines define identically
for non-negative operands:

    contrib  = rank DIV outdeg              (floor division)
    rank'    = 0.15*ONE + (85 * sum(contrib)) DIV 100

Integer sums are order-independent and exact; `div` (Spark) and `//`
(DuckDB) agree on non-negative longs. Overflow headroom: total mass
<= n_nodes * 10^12 ~ 1.6e16 at sf0.1, and 85x that is ~1.4e18 <
int64 max. DuckDB SUM(BIGINT) returns HUGEINT -> CAST AS BIGINT in
the oracle (round-1 lesson).

Graph: undirected bipartite "customer traded with supplier" edges
(distinct (o_custkey, l_suppkey) pairs via orders |><| lineitem),
node ids namespaced arithmetically (customer -> 2k, supplier ->
2k+1). Isolated nodes (customers with no orders) receive the
teleport mass only — the LEFT join + COALESCE(0) in both engines.

At 100 TB: the edge list is the big table; it shuffles once per
iteration on src (co-partitioned with ranks after the first
iteration, so AQE reuses the layout), and the per-node aggregate is
partial-agg'd map-side. Dangling-mass redistribution is deliberately
the simplified "ignore" variant — the full variant adds one scalar
agg + broadcast per iteration, noted here rather than implemented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.loader import load_table
from ._edges import trade_edges

ONE = 1_000_000_000_000  # rank 1.0 in scaled-int units
ITERS = 3
TOP_N = 100

_GRAPH_SQL = """
    e0 AS (
      SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    sym AS (
      SELECT src, dst FROM e0
      UNION ALL
      SELECT dst AS src, src AS dst FROM e0
    ),
    v AS (
      SELECT 2 * c_custkey AS node FROM customer
      UNION ALL
      SELECT 2 * s_suppkey + 1 AS node FROM supplier
    ),
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
      FROM sym GROUP BY src
    )
"""


def _iter_sql(prev: str, cur: str) -> str:
    """One oracle PageRank step: contributions along edges, floor-div
    damping — mirrors the Spark step token for token."""
    return f"""
    i{cur} AS (
      SELECT s.dst AS node,
             CAST(SUM(r.rank_scaled // d.outdeg) AS BIGINT) AS inc
      FROM sym s
      JOIN r{prev} r ON s.src = r.node
      JOIN deg d ON s.src = d.node
      GROUP BY s.dst
    ),
    r{cur} AS (
      SELECT v.node,
             CAST({15 * ONE // 100} + (85 * COALESCE(i.inc, 0)) // 100 AS BIGINT)
               AS rank_scaled
      FROM v LEFT JOIN i{cur} i ON v.node = i.node
    )
    """


def _oracle() -> str:
    steps = ",".join(_iter_sql(str(i), str(i + 1)) for i in range(ITERS))
    return f"""
    WITH {_GRAPH_SQL},
    r0 AS (SELECT node, CAST({ONE} AS BIGINT) AS rank_scaled FROM v),
    {steps}
    SELECT node AS node_id,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           rank_scaled
    FROM r{ITERS}
    QUALIFY ROW_NUMBER() OVER (ORDER BY rank_scaled DESC, node) <= {TOP_N}
    """


def _trade_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The namespaced trade-graph ``vertices`` (node) and the
    checkpointed symmetric edge list with static out-degrees
    (src, dst, outdeg) that every PageRank iteration joins ranks into."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    # Edge derivation (join+distinct) feeds every iteration — evaluate
    # it once, not ITERS times (same rationale as graph.py).
    sym = trade_edges(spark, sf_dir).localCheckpoint(eager=True)

    vertices = (
        c.select((F.col("c_custkey") * 2).alias("node"))
        .unionAll(s.select((F.col("s_suppkey") * 2 + 1).alias("node")))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # Attach static out-degrees to the edge list once; iterations then
    # only join ranks in.
    edges = (
        sym.join(deg, sym["src"] == deg["node"])
        .select("src", "dst", "outdeg")
        .localCheckpoint(eager=True)
    )
    return vertices, edges


@query(
    "q_pagerank",
    oracle=_oracle(),
    tags=("graph", "iterative", "pagerank"),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 nodes by 3-iteration PageRank (damping 0.85) on the
    customer-supplier trade graph. Scaled-int ranks; two shuffles per
    iteration (edge join + per-node agg)."""
    vertices, edges = _trade_graph(spark, sf_dir)
    ranks = vertices.select("node", F.lit(ONE).cast("long").alias("rank_scaled"))
    for _ in range(ITERS):
        inc = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.expr("rank_scaled div outdeg").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inc"))
        )
        ranks = vertices.join(inc, vertices["node"] == inc["dst"], "left").select(
            "node",
            (
                F.lit(15 * ONE // 100)
                + F.expr("85 * coalesce(inc, 0L) div 100")
            ).alias("rank_scaled"),
        )

    # top-N over the node-sized rank table: orderBy().limit() plans as
    # TakeOrderedAndProject, not a global-rank window holding every
    # vertex in one task (round-7 plan lint). Total tie-broken order,
    # so output is identical.
    return (
        ranks.orderBy(F.col("rank_scaled").desc(), F.col("node"))
        .limit(TOP_N)
        .select(
            F.col("node").alias("node_id"),
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            "rank_scaled",
        )
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities
# ---------------------------------------------------------------------------

_HITS_ITERS = 2
_HITS_ONE = 1_000_000  # score 1.0 in micro-units
_HITS_TOP = 50

_HITS_GRAPH_SQL = """
    he AS (
      SELECT DISTINCT o_custkey AS hub, l_suppkey AS auth
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
"""


def _hits_iter_sql(prev: str, cur: str) -> str:
    """One oracle HITS step: authority pass then hub pass, each
    max-normalized back to micro-units with a floor division — mirrors
    the Spark step token for token (all operands non-negative, so
    DuckDB // and Spark div agree)."""
    return f"""
    araw{cur} AS (
      SELECT he.auth, CAST(SUM(h.score) AS BIGINT) AS raw
      FROM he JOIN hub{prev} h ON he.hub = h.node GROUP BY he.auth
    ),
    auth{cur} AS (
      SELECT auth AS node,
             CAST((raw * {_HITS_ONE}) // (SELECT MAX(raw) FROM araw{cur})
                  AS BIGINT) AS score
      FROM araw{cur}
    ),
    hraw{cur} AS (
      SELECT he.hub, CAST(SUM(a.score) AS BIGINT) AS raw
      FROM he JOIN auth{cur} a ON he.auth = a.node GROUP BY he.hub
    ),
    hub{cur} AS (
      SELECT hub AS node,
             CAST((raw * {_HITS_ONE}) // (SELECT MAX(raw) FROM hraw{cur})
                  AS BIGINT) AS score
      FROM hraw{cur}
    )
    """


def _hits_oracle() -> str:
    steps = ",".join(
        _hits_iter_sql(str(i), str(i + 1)) for i in range(_HITS_ITERS)
    )
    n = _HITS_ITERS
    return f"""
    WITH {_HITS_GRAPH_SQL},
    hub0 AS (
      SELECT DISTINCT hub AS node, CAST({_HITS_ONE} AS BIGINT) AS score
      FROM he
    ),
    {steps},
    sides AS (
      SELECT 'authority' AS side, node, score FROM auth{n}
      UNION ALL
      SELECT 'hub' AS side, node, score FROM hub{n}
    )
    SELECT side, node, score,
           CAST(ROW_NUMBER() OVER (PARTITION BY side
                                   ORDER BY score DESC, node) AS BIGINT) AS rk
    FROM sides
    QUALIFY rk <= {_HITS_TOP}
    """


def _hits_normalized(raw: DataFrame) -> DataFrame:
    """One half-iteration's (n2, raw) sums max-normalized back to
    micro-units: score = raw * 1e6 div max(raw) over the whole frame.

    The max is a keyless ``OVER ()`` window on the post-aggregation
    frame, one row per node of the side being scored, so its
    single-partition pass is bounded by |customer| or |supplier|, not
    by edge or fact volume (the ``q15_top_supplier`` argument). The
    alternative, a 1-row max aggregate broadcast back with a
    crossJoin, references the raw frame twice, so every half-iteration
    doubles the plan beneath it. If a side's cardinality ever rivals
    the edge list, reduce with a partial per-partition max first."""
    return raw.select(
        F.col("n2").alias("node"),
        F.expr(f"CAST((raw * {_HITS_ONE}) div max(raw) OVER () AS BIGINT)").alias(
            "score"
        ),
    )


@query(
    "q_hits_hubs_authorities",
    oracle=_hits_oracle(),
    tags=("graph", "iterative", "hits", "link-analysis"),
)
def q_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs & authorities on the bipartite
    customer -> supplier trade graph, 2 fixed iterations: authority
    score = sum of pointing hubs' scores, hub score = sum of pointed
    authorities' scores, each pass max-normalized back to exact
    integer micro-units (score * 1e6 div max — the L-inf analog of
    the usual L2 normalization, chosen because it stays in exact
    integer arithmetic; the RANKING it induces per iteration is
    identical). Top-50 per side with rank.

    Overflow: degree <= |suppliers| and scores <= 1e6, so raw sums
    stay <= 1e10 at sf0.1 and the *1e6 rescale peaks ~1e16 < 2^63.

    Scale: each half-iteration is one edge equi-join + one key
    aggregate (the PageRank shape — two shuffles) + the node-sized
    max window of ``_hits_normalized``, so the plan grows linearly
    with the iteration count. Edges shuffle on the side being
    aggregated; with the edge list hash-partitioned both ways once,
    AQE reuses the layouts across iterations.

    Measured (perfbench's seed-1 tables, local[2], median of 5 warm
    calls on a 4-vCPU host): this form 1.3 s and 11 jobs. Rejected:
    the r8 form, a 1-row max broadcast back with a crossJoin, referenced
    each raw frame twice, so the plan doubled per level (at sf0.01
    4,260 plan lines and 157 exchanges against 670 and 28 here): 3.4 s,
    32 jobs. On that form, pin() per raw frame took 2.0 s (33 jobs), a
    lazy localCheckpoint per raw frame 1.9 s (28 jobs, 22 of them in
    the build), and collecting each max to the driver 3.9 s (60 jobs)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    he = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(F.col("o_custkey").alias("hub"), F.col("l_suppkey").alias("auth"))
        .distinct()
        .localCheckpoint(eager=True)  # edge derivation runs once, not per pass
    )
    hub = he.select("hub").distinct().select(
        F.col("hub").alias("node"), F.lit(_HITS_ONE).cast("long").alias("score")
    )
    auth = None
    for _ in range(_HITS_ITERS):
        auth = _hits_normalized(
            he.join(hub, he.hub == hub.node)
            .groupBy(F.col("auth").alias("n2"))
            .agg(F.sum("score").alias("raw"))
        )
        hub = _hits_normalized(
            he.join(auth, he.auth == auth.node)
            .groupBy(F.col("hub").alias("n2"))
            .agg(F.sum("score").alias("raw"))
        )
    both = auth.select(F.lit("authority").alias("side"), "node", "score").unionByName(
        hub.select(F.lit("hub").alias("side"), "node", "score")
    )
    w = Window.partitionBy("side").orderBy(F.desc("score"), F.asc("node"))
    return both.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= _HITS_TOP
    )


# ---------------------------------------------------------------------
# q_personalized_pagerank (round 7)
# ---------------------------------------------------------------------

_PPR_SEED_CUSTS = (1, 2, 3, 4, 5)  # seed customers (node ids 2k)
_PPR_SEED_SHARE = ONE // len(_PPR_SEED_CUSTS)
_PPR_RESTART = (15 * ONE // 100) // len(_PPR_SEED_CUSTS)  # per-seed teleport


def _ppr_iter_sql(prev: str, cur: str) -> str:
    return f"""
    i{cur} AS (
      SELECT s.dst AS node,
             CAST(SUM(r.rank_scaled // d.outdeg) AS BIGINT) AS inc
      FROM sym s
      JOIN p{prev} r ON s.src = r.node AND r.rank_scaled > 0
      JOIN deg d ON s.src = d.node
      GROUP BY s.dst
    ),
    p{cur} AS (
      SELECT v.node,
             CAST(COALESCE(sd.restart, 0)
                  + (85 * COALESCE(i.inc, 0)) // 100 AS BIGINT)
               AS rank_scaled
      FROM v
      LEFT JOIN i{cur} i ON v.node = i.node
      LEFT JOIN seeds sd ON v.node = sd.node
    )
    """


def _ppr_oracle() -> str:
    seed_rows = ", ".join(f"({2 * k})" for k in _PPR_SEED_CUSTS)
    steps = ",".join(_ppr_iter_sql(str(i), str(i + 1)) for i in range(ITERS))
    return f"""
    WITH {_GRAPH_SQL},
    seeds AS (
      SELECT CAST(node AS BIGINT) AS node,
             CAST({_PPR_RESTART} AS BIGINT) AS restart
      FROM (VALUES {seed_rows}) AS t(node)
    ),
    p0 AS (
      SELECT v.node,
             CAST(CASE WHEN sd.node IS NOT NULL
                       THEN {_PPR_SEED_SHARE} ELSE 0 END AS BIGINT)
               AS rank_scaled
      FROM v LEFT JOIN seeds sd ON v.node = sd.node
    ),
    {steps}
    SELECT node AS node_id,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           rank_scaled
    FROM p{ITERS}
    WHERE rank_scaled > 0
    QUALIFY ROW_NUMBER() OVER (ORDER BY rank_scaled DESC, node) <= {TOP_N}
    """


@query(
    "q_personalized_pagerank",
    oracle=_ppr_oracle(),
    tags=("graph", "iterative", "pagerank", "personalized"),
)
def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a fixed 5-customer seed set: teleport
    mass returns ONLY to the seeds, so ranks measure proximity to that
    neighborhood — the "similar items / audiences" graph primitive
    behind recommendation and label-propagation-style expansion
    (q_pagerank's global variant answers importance; this answers
    importance TO WHOM). Top-100 nonzero nodes by scaled-int rank.

    Exactness: the q_pagerank integer treatment verbatim — scaled-int
    ranks (1.0 = 1e12), floor-div contributions, per-seed restart mass
    a precomputed integer literal; every step order-independent exact
    integer arithmetic.

    Scale: identical dataflow to q_pagerank (edge join + per-node agg
    per iteration, two key-shuffles), with one PPR-specific advantage:
    rank vectors stay SPARSE (only nodes reached from the seeds carry
    mass — the r.rank_scaled > 0 join filter both engines apply), so
    early iterations touch a neighborhood, not the whole graph. Final
    top-k is TakeOrderedAndProject."""
    vertices, edges = _trade_graph(spark, sf_dir)
    seeds = spark.createDataFrame(
        [(2 * k, _PPR_RESTART) for k in _PPR_SEED_CUSTS],
        "node long, restart long",
    )
    ranks = vertices.join(F.broadcast(seeds), "node", "left").select(
        "node",
        F.when(F.col("restart").isNotNull(), F.lit(_PPR_SEED_SHARE))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank_scaled"),
    )
    for _ in range(ITERS):
        inc = (
            edges.join(
                ranks.filter(F.col("rank_scaled") > 0),
                edges["src"] == ranks["node"],
            )
            .select(
                F.col("dst"),
                F.expr("rank_scaled div outdeg").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inc"))
        )
        ranks = (
            vertices.join(inc, vertices["node"] == inc["dst"], "left")
            .join(F.broadcast(seeds), "node", "left")
            .select(
                "node",
                (
                    F.coalesce(F.col("restart"), F.lit(0))
                    + F.expr("85 * coalesce(inc, 0L) div 100")
                ).cast("long").alias("rank_scaled"),
            )
        )
    return (
        ranks.filter(F.col("rank_scaled") > 0)
        .orderBy(F.col("rank_scaled").desc(), F.col("node"))
        .limit(TOP_N)
        .select(
            F.col("node").alias("node_id"),
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            "rank_scaled",
        )
    )

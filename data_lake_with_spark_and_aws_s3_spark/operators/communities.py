"""Community detection via synchronous label propagation (LPA,
Raghavan et al. 2007) over the co-purchase graph — the "which products
cluster together" / "which docs form a topic" primitive that sits one
level above connected components (graph.py): CC merges everything
reachable; LPA finds densely-connected neighborhoods inside one
component.

Semantics here are the DETERMINISTIC synchronous variant: every node
starts labeled with its own id; each round, every node simultaneously
adopts the most frequent label among its neighbors, breaking ties by
the smallest label; a fixed number of rounds (no data-dependent
convergence test) so the oracle is a finite CTE chain computing the
identical fixpoint prefix. Async LPA with random tie-breaks converges
faster but is irreproducible — useless for a hash-checked pipeline.

Each round is one shuffle pair: edges ⋈ labels on the neighbor key,
then a (node, label) count aggregate, then a per-node argmax window.
Rounds are O(|E|) — never materializing anything quadratic — and the
edge list itself is built once from a self-join keyed on the order id
(pairs within an order, so the join explodes per-order baskets, not
the full table). At 100 TB the same plan holds: per-round cost is one
|E|-sized shuffle, and the round count is a fixed small constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ._edges import copurchase_edges

_MIN_COPURCHASE = 2  # edge weight floor: pairs co-ordered at least twice
_ROUNDS = 2


def _lpa_round_sql(prev: str, out: str) -> str:
    """One synchronous LPA round as SQL CTE text: neighbor-label counts
    then per-node argmax (count DESC, label ASC)."""
    return f"""
    cnt_{out} AS (
      SELECT e.src AS v, {prev}.label, CAST(COUNT(*) AS BIGINT) AS c
      FROM e JOIN {prev} ON e.dst = {prev}.v
      GROUP BY e.src, {prev}.label
    ),
    {out} AS (
      SELECT v, label FROM (
        SELECT v, label,
               row_number() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
        FROM cnt_{out})
      WHERE rn = 1
    )"""


# The LPA oracle: co-purchase backbone `ew`, its directed view `e`
# and the labels `lab2` after _ROUNDS rounds.
_LPA_GRAPH_SQL = f"""
    WITH pairs AS (
      SELECT a.l_orderkey, a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    ew AS (
      SELECT pa, pb FROM pairs GROUP BY pa, pb
      HAVING COUNT(*) >= {_MIN_COPURCHASE}
    ),
    e AS (
      SELECT pa AS src, pb AS dst FROM ew
      UNION ALL
      SELECT pb AS src, pa AS dst FROM ew
    ),
    lab0 AS (
      SELECT DISTINCT src AS v, src AS label FROM e
    ),
    {_lpa_round_sql("lab0", "lab1")},
    {_lpa_round_sql("lab1", "lab2")}
"""


def _directed(ew: DataFrame) -> DataFrame:
    """Both orientations (src, dst) of the undirected (pa, pb) edges."""
    return ew.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        ew.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )


def _lpa_labels(e: DataFrame) -> DataFrame:
    """(v, label) after _ROUNDS synchronous LPA rounds over the directed
    edge view e: every node seeded with its own id, each round the most
    frequent neighbor label wins, ties to the smallest label. The
    caller decides how e is materialized."""
    labels = e.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("label")
    )
    argmax = Window.partitionBy("v").orderBy(F.desc("c"), "label")
    for _ in range(_ROUNDS):
        cnt = (
            e.join(labels, e.dst == labels.v)
            .groupBy(F.col("src").alias("v2"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.select(F.col("v2").alias("v"), "label", "c")
            .withColumn("rn", F.row_number().over(argmax))
            .filter(F.col("rn") == 1)
            .select("v", "label")
        )
    return labels


@query(
    "q_label_propagation",
    oracle=_LPA_GRAPH_SQL
    + """
    SELECT v AS part_id, label AS community,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
    FROM lab2
    """,
    tags=("graph", "communities", "label-propagation"),
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation ({_ROUNDS} rounds) over the
    co-purchase graph: parts are nodes, an edge joins two parts
    co-ordered in >= 2 orders; output is each node's community label
    and its community's size.

    Determinism: synchronous rounds + (count DESC, label ASC) argmax
    tie-break make every round a pure function of the previous
    labeling, so a fixed round count yields a unique answer both
    engines agree on — all integer ids and counts, nothing to quantize.

    Scale: the basket self-join is keyed on l_orderkey (explodes
    per-order baskets only); the weight floor prunes the edge list to
    the stable co-purchase backbone (8.9k raw pairs -> 2.5k edges at
    sf0.001, 1.2M -> 3.9k at sf0.1 — the floor is what keeps |E| from
    tracking |lineitem|^2/|orders|); each round shuffles O(|E|) rows
    keyed by node. The argmax window partitions by node — maximal
    parallelism, no global sort. Edge derivation is the family-shared
    checkpoint (_edges.copurchase_edges) — derived fresh per
    invocation since round 8 (the session memo was cross-run result
    caching; modularity/triangles/assortativity/adamic-adar/k-core
    each pay their own derivation, as the bench requires)."""
    ew = copurchase_edges(spark, sf_dir, _MIN_COPURCHASE)
    # materialize the directed view once: it feeds every LPA round and
    # the filter-over-checkpoint would otherwise replay per round
    e = _directed(ew).localCheckpoint(eager=True)
    return _lpa_labels(e).select(
        F.col("v").alias("part_id"),
        F.col("label").alias("community"),
        F.count(F.lit(1)).over(Window.partitionBy("label")).alias("community_size"),
    )


@query(
    "q_modularity",
    oracle=_LPA_GRAPH_SQL
    + """
    , m_scalar AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ew
    ),
    deg AS (
      SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src
    ),
    intra AS (
      SELECT la.label AS community, CAST(COUNT(*) / 2 AS BIGINT) AS e_c
      FROM e
      JOIN lab2 la ON la.v = e.src
      JOIN lab2 lb ON lb.v = e.dst
      WHERE la.label = lb.label
      GROUP BY la.label
    ),
    comm AS (
      SELECT l.label AS community,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(deg.d) AS BIGINT) AS degree_sum
      FROM lab2 l JOIN deg ON deg.v = l.v
      GROUP BY l.label
    )
    SELECT comm.community, comm.n_nodes, comm.degree_sum,
           CAST(COALESCE(intra.e_c, 0) AS BIGINT) AS intra_edges,
           m_scalar.m,
           CAST(4 * m_scalar.m * COALESCE(intra.e_c, 0)
                - comm.degree_sum * comm.degree_sum AS BIGINT) AS contrib_num
    FROM comm
    LEFT JOIN intra ON intra.community = comm.community
    CROSS JOIN m_scalar
    """,
    tags=("graph", "communities", "modularity", "stats"),
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the quality score
    that says whether the detected communities are denser than chance:
    Q = sum_c [ e_c/m - (d_c/2m)^2 ]. Reported per community in EXACT
    integers: contrib_num = 4*m*e_c - d_c^2, so Q = sum(contrib_num)
    / (4*m^2) with one division left to the reader — nothing floats,
    nothing quantizes.

    The community labels come from q_label_propagation's own loop
    (_lpa_labels, same rounds and tie-breaks); intra-community edges
    come from one label-keyed self-annotation of the edge list (two
    equi-joins, never pairwise in anything but the bounded basket
    build); the 1-row m scalar broadcasts (NLJ-allowlisted). Edge
    derivation is the family-shared _edges.copurchase_edges."""
    # filter over this call's pair checkpoint; feeds edges, m, and the
    # LPA rounds
    ew = copurchase_edges(spark, sf_dir, _MIN_COPURCHASE)
    e = _directed(ew)
    labels = _lpa_labels(e).localCheckpoint(eager=True)  # feeds deg AND intra joins
    m_scalar = ew.agg(F.count(F.lit(1)).alias("m"))
    deg = e.groupBy(F.col("src").alias("v")).agg(F.count(F.lit(1)).alias("d"))
    la = labels.select(F.col("v").alias("src"), F.col("label").alias("l_src"))
    lb = labels.select(F.col("v").alias("dst"), F.col("label").alias("l_dst"))
    intra = (
        e.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("l_src") == F.col("l_dst"))
        .groupBy(F.col("l_src").alias("community"))
        .agg((F.count(F.lit(1)) / 2).cast("long").alias("e_c"))
    )
    comm = (
        labels.join(deg, labels.v == deg.v)
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").alias("degree_sum"),
        )
    )
    return (
        comm.join(intra, "community", "left")
        .crossJoin(F.broadcast(m_scalar))
        .select(
            "community",
            "n_nodes",
            "degree_sum",
            F.coalesce(F.col("e_c"), F.lit(0)).cast("long").alias("intra_edges"),
            "m",
            (
                4 * F.col("m") * F.coalesce(F.col("e_c"), F.lit(0))
                - F.col("degree_sum") * F.col("degree_sum")
            ).cast("long").alias("contrib_num"),
        )
    )

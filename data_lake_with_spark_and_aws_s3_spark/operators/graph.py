"""Iterative graph operators: distributed connected components, used
for TRUE near-duplicate clustering (pairs -> transitive groups), and
the BFS, k-core and truss queries over the trade and co-purchase
graphs.

Spark has no native connected-components; `connected_components` is
alternating large-star / small-star contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SOCC'14), every vertex
labeled with the min id it can reach. Star contraction converges in
O(log^2 n) rounds whatever the component diameter — the min-label
propagation it replaced needed O(diameter) rounds and failed to
converge on a >20-hop semdedup graph at 10x (SCALE.md, round 5).
Graphs up to _CC_DRIVER_MAX_EDGES edges skip the loop for a driver
union-find with the same min-id labels.

The oracle checks the SAME semantics with DuckDB's recursive CTE
(transitive closure + min-over-reachable) — feasible at test scale,
which is exactly what the driver needs; at 100 TB only the iterative
form survives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textops import tokens
from ..registry import query
from ..sources.loader import load_table
from ._edges import copurchase_edges, trade_edges

_JACCARD_EDGES_SQL = """
    WITH tok AS (
      SELECT doc_id, lang, source,
             list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS ts
      FROM documents
    ), e AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM tok a JOIN tok b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
            / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.8
    )
"""


def _dedup_edges(e: DataFrame) -> DataFrame:
    return e.filter(F.col("src") != F.col("dst")).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: attach every strictly LARGER neighbor to
    m = min(N(u) ∪ {u}). Operates on the symmetrized neighborhood."""
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mn = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    m = F.least(F.col("src"), F.col("mn")).alias("m")
    return _dedup_edges(
        sym.join(mn, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), m.alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u over its strictly SMALLER neighbors S:
    link S ∪ {u} to min(S)."""
    d = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mn = d.groupBy("src").agg(F.min("dst").alias("m"))
    relink = d.join(mn, "src").select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    self_link = mn.select(F.col("src"), F.col("m").alias("dst"))
    return _dedup_edges(relink.unionByName(self_link))


# Edge-count ceiling for the driver union-find short-circuit: 200k
# edges x 16 bytes is a few MB of driver state — the same order as the
# k-core broadcast guard — while every shipped SF's CC graph is below
# it (largest at sf0.1: the exact small-corpus Jaccard graph, ~38k
# edges) and a 100 TB corpus graph is orders of magnitude above
# (taking the distributed loop unchanged).
_CC_DRIVER_MAX_EDGES = 200_000
# Star rounds before the distributed loop gives up and raises.
_CC_MAX_ROUNDS = 30


def _driver_union_find_labels(e: DataFrame) -> dict:
    """Min-id union-find over a collected (src, dst) edge list —
    returns {vertex: component_min} for edge-incident vertices only.
    Deterministic regardless of edge order (the root chosen for a set
    is always its minimum id). Type-agnostic: vertex ids are used as-is
    (ints, strings, ... — anything hashable and orderable), matching
    the distributed loop's MIN semantics for the same column type."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in e.collect():
        a, b = find(row["src"]), find(row["dst"])
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    # non-root vertices only: roots label themselves through the
    # caller's COALESCE(label, id), exactly like the distributed
    # branch's star edge set (roots have no outgoing star edge)
    return {v: find(v) for v in list(parent)}


def _union_find_label_frame(e: DataFrame, labels: dict) -> DataFrame:
    """Build the (v, label) broadcast frame from a union-find result,
    with both columns typed as the edges' own src dtype — string-id
    graphs (e.g. entity-resolution part names) round-trip unchanged."""
    from pyspark.sql.types import StructField, StructType

    vt = e.schema["src"].dataType
    schema = StructType(
        [StructField("v", vt, False), StructField("label", vt, False)]
    )
    return e.sparkSession.createDataFrame(sorted(labels.items()), schema=schema)


def connected_components(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """(id, component) with component = min vertex id reachable, via
    alternating large-star / small-star contractions (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SOCC'14).

    edges: columns (src, dst), undirected semantics, self-loops and
    duplicates allowed. vertices: column (id) — isolated vertices keep
    their own id. Star contraction halves component height per round
    pair, converging in O(log^2 n) rounds INDEPENDENT of diameter, with
    near-linear shuffle per round. Each round is two grouped aggregates
    + joins on the (shrinking) edge set; lineage cut per round via
    localCheckpoint. Raises RuntimeError if _CC_MAX_ROUNDS rounds pass
    with the edge set still changing.

    Convergence: the edge set is a fixpoint of both stars exactly when
    every component is a star rooted at its minimum; detected by an
    order-independent fingerprint (count + XOR of row hashes — the
    edge set is distinct, so xor fingerprints the set; xor, unlike
    sum, cannot overflow under ANSI mode).

    Round 8 (optimization): each round's checkpoint is LAZY and the
    fingerprint aggregate is the action that materializes it — one
    job (and one pass over the edge set) per round instead of two.
    The aggregate touches every partition, so the checkpoint is fully
    populated before the next round reads it; eager=True did the same
    materialization as a separate job and then read the blocks again
    for the fingerprint.

    Round 8, small-graph short-circuit: when the deduped edge set is
    at most {_CC_DRIVER_MAX_EDGES} rows (known for free from the
    initial fingerprint), the components are computed with a driver
    union-find instead of the distributed star loop — the same
    mechanical size guard as the k-core broadcast hint below
    (_KCORE_BROADCAST_MAX_VERTICES): at sf0.1 the near-dup edge set
    is a few hundred rows and each star round costs more in job
    launches than the whole union-find. Driver state is capped at
    {_CC_DRIVER_MAX_EDGES} x 16 bytes (a few MB); larger graphs take
    the distributed loop unchanged, so nothing driver-side grows with
    the corpus. Labels are min-reachable-id either way — union-find
    with min-id roots returns bit-identical components."""
    e = _dedup_edges(edges.select("src", "dst")).localCheckpoint(eager=False)

    def fingerprint(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    fp = fingerprint(e)
    if fp[0] <= _CC_DRIVER_MAX_EDGES:
        labels = _driver_union_find_labels(e)
        if not labels:  # no edges: every vertex is its own component
            return vertices.select("id", F.col("id").alias("component"))
        lab_df = _union_find_label_frame(e, labels)
        return vertices.join(
            F.broadcast(lab_df), vertices.id == lab_df.v, "left"
        ).select("id", F.coalesce("label", "id").alias("component"))
    for _ in range(_CC_MAX_ROUNDS):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        new_fp = fingerprint(e)
        if new_fp == fp:
            # stars: every non-root points at its component min
            labels = e.groupBy(F.col("src").alias("v")).agg(F.min("dst").alias("label"))
            return vertices.join(labels, vertices.id == labels.v, "left").select(
                "id", F.coalesce("label", "id").alias("component")
            )
        fp = new_fp
    raise RuntimeError(f"connected_components did not converge in {_CC_MAX_ROUNDS} rounds")


@query(
    "q_dedup_clusters_exact_smallcorpus",
    oracle=_JACCARD_EDGES_SQL
    + """
    , sym AS (
      SELECT src, dst FROM e
      UNION
      SELECT dst, src FROM e
      UNION
      SELECT doc_id, doc_id FROM documents
    ), reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, s.dst FROM r JOIN sym s ON s.src = r.dst
      ) SELECT * FROM r
    )
    SELECT src AS doc_id, MIN(dst) AS cluster_id
    FROM reach GROUP BY src
    """,
    tags=("graph", "dedup", "clusters", "iterative", "exact-smallcorpus"),
)
def q_dedup_clusters_exact_smallcorpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-RECALL cross-check for q_dedup_clusters — NOT the scale
    path. Edge generation is an all-pairs Jaccard join within
    (lang, source) blocks; block size grows linearly with the corpus,
    so this stage is O(n²/b) — the round-3 growth sweep measured
    26.7x wall at 10x data (SCALE.md). Renamed from ``q_dedup_clusters``
    in round 4 so the default name binds the LSH-banded composition
    below; keep THIS variant for small-corpus validation where 100%
    pair recall matters (LSH misses a true >=0.8 pair with prob
    (1-s^4)^4 ≈ 3e-5), and for equivalence-testing the scale path.

    Semantics: Jaccard >= 0.8 pairs grown to transitive components,
    every doc labeled with its cluster's min doc_id.

    Spark side: star-contraction components (see
    connected_components). Oracle: DuckDB recursive-CTE transitive
    closure — same fixpoint, declarative form.

    Tokens are xxhash64-mapped to int64 before the pairwise intersect:
    array_intersect over longs beats UTF8String compares ~2.4x on the
    quadratic inner loop and the intersection COUNTS are unchanged
    (a cross-token collision inside one block would be needed to shift
    a count; at 2^-64 per pair that is ignorable even at 100 TB)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.transform(tokens(), lambda x: F.xxhash64(x)))
    t = d.select("doc_id", "lang", "source", toks.alias("ts"))
    a = t.select(
        F.col("doc_id").alias("src"), F.col("lang").alias("la"),
        F.col("source").alias("sa"), F.col("ts").alias("tsa"),
    )
    b = t.select(
        F.col("doc_id").alias("dst"), F.col("lang").alias("lb"),
        F.col("source").alias("sb"), F.col("ts").alias("tsb"),
    )
    inter = F.size(F.array_intersect("tsa", "tsb"))
    union = F.size("tsa") + F.size("tsb") - inter
    edges = (
        a.join(
            b,
            (F.col("la") == F.col("lb"))
            & (F.col("sa") == F.col("sb"))
            & (F.col("src") < F.col("dst")),
        )
        .filter(inter.cast("double") / union >= 0.8)
        .select("src", "dst")
    )
    vertices = d.select(F.col("doc_id").alias("id"))
    cc = connected_components(edges, vertices)
    return cc.select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_id"))


@query(
    "q_identity_stitching",
    oracle="""
    WITH ud AS (
      SELECT user_id, CAST(props->>'k' AS BIGINT) AS dev
      FROM events GROUP BY 1, 2 HAVING COUNT(*) >= 4
    ), e AS (
      SELECT user_id * 2 AS src, dev * 2 + 1 AS dst FROM ud
    ), nodes AS (
      SELECT src AS n FROM e UNION SELECT dst FROM e
    ), sym AS (
      SELECT src, dst FROM e
      UNION
      SELECT dst, src FROM e
      UNION
      SELECT n, n FROM nodes
    ), reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, s.dst FROM r JOIN sym s ON s.src = r.dst
      ) SELECT * FROM r
    ), comp AS (
      SELECT src, MIN(dst) AS comp FROM reach GROUP BY src
    ), users AS (
      SELECT DISTINCT user_id FROM events
    ), ucomp AS (
      SELECT u.user_id, COALESCE(c.comp, u.user_id * 2) AS comp
      FROM users u LEFT JOIN comp c ON c.src = u.user_id * 2
    )
    SELECT user_id,
           CAST(MIN(user_id) OVER (PARTITION BY comp) AS BIGINT)
             AS identity_user,
           CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT)
             AS n_linked_users
    FROM ucomp
    """,
    tags=("graph", "identity", "entity-resolution", "iterative"),
)
def q_identity_stitching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-device identity stitching — the entity-resolution shape
    behind every CDP/ads identity graph: users who STRONGLY share a
    device (>= 4 events on the same props.k device id) merge into one
    identity, transitively (A and C never met, but both share devices
    with B). The bipartite user<->device graph goes through the same
    distributed connected-components machinery as near-dup clustering
    (node encoding user*2 / device*2+1 keeps the id spaces disjoint);
    every user maps to the min user_id of their identity group, with
    the group size for downstream weighting. Weak (1-3 event) links
    are dropped BEFORE the graph — link-strength gating is what keeps
    real identity graphs from collapsing into one giant component,
    demonstrated here: without the gate this corpus's 100 devices x
    ~80 users each would stitch all 150 users into one identity.

    Scale: the gated edge list is tiny relative to events (one
    groupBy); CC cost is bounded by the identity-graph size, not the
    event volume — see connected_components for the per-round
    shuffle story."""
    e = load_table(spark, sf_dir, "events")
    ud = (
        e.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("dev"),
        )
        .groupBy("user_id", "dev")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 4)
    )
    edges = ud.select(
        (F.col("user_id") * 2).alias("src"), (F.col("dev") * 2 + 1).alias("dst")
    )
    users = e.select("user_id").distinct()
    vertices = users.select((F.col("user_id") * 2).alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    ).distinct()
    cc = connected_components(edges, vertices)
    ucomp = (
        users.join(cc, users.user_id * 2 == cc.id)
        .select("user_id", F.col("component").alias("comp"))
    )
    w = Window.partitionBy("comp")
    return ucomp.select(
        "user_id",
        F.min("user_id").over(w).cast("bigint").alias("identity_user"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_linked_users"),
    )


def _lsh_clusters_sql() -> str:
    """Shared oracle fragment: LSH-banded edges (md5-portable twin,
    Jaccard >= 0.8 verified) grown to a `clusters(doc_id, cluster_id)`
    CTE via recursive-CTE transitive closure. Starts its own WITH;
    callers append further CTEs with a leading comma. This is the
    DuckDB replay of the q_dedup_clusters composition, reused by every
    downstream operator that consumes its cluster labels
    (q_cluster_aware_split, q_cluster_representative)."""
    from .neardup import _ml_oracle

    return f"""
    WITH pairs AS ({_ml_oracle()}
    ), e AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      WHERE jaccard_x10000 >= 8000
    ), sym AS (
      SELECT src, dst FROM e
      UNION
      SELECT dst, src FROM e
      UNION
      SELECT doc_id, doc_id FROM documents
    ), reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, s.dst FROM r JOIN sym s ON s.src = r.dst
      ) SELECT * FROM r
    ), clusters AS (
      SELECT src AS doc_id, MIN(dst) AS cluster_id
      FROM reach GROUP BY src
    )
    """


def _lsh_clusters_oracle() -> str:
    return _lsh_clusters_sql() + "SELECT doc_id, cluster_id FROM clusters"


@query(
    "q_dedup_clusters",
    oracle=_lsh_clusters_oracle(),
    tags=("graph", "dedup", "clusters", "lsh", "iterative", "llm-pipeline"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE default dedup-clusters operator (owns the default name as of
    round 4; formerly registered as ``q_dedup_clusters_lsh``) — the
    100 TB composition, end to end: LSH-banded candidate pairs
    (shingle Jaccard >= 0.8, exactly verified) feed star-contraction
    connected components — no quadratic stage anywhere, unlike
    q_dedup_clusters_exact_smallcorpus whose (lang, source)-blocked
    edge join grows with the square of the block size (measured in the
    round-3 growth sweep: 26.7x wall at 10x corpus; SCALE.md, vs 2.8x
    for this composition). Here the edge generation is the banded
    equi-join (O(n*bands) shuffle) and the CC is O(log^2 n) rounds
    independent of cluster diameter.

    Fully oracle-checked: edges come from the md5-portable twin
    (_ml_exact_pairs — DuckDB replays signatures, bands, candidates,
    and the exact verify), and the transitive closure is replayed with
    a recursive CTE. The LSH recall caveat transfers honestly: a true
    >= 0.8 pair missed by all 4 bands (probability (1-s^4)^4, ~3e-5 at
    s = 0.8) would split a cluster in BOTH engines identically, so the
    check stays exact while the semantics stay approximate-by-design."""
    return _lsh_cluster_compute(spark, sf_dir)


def _lsh_cluster_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-banded + star-contraction cluster composition —
    q_dedup_clusters' body, uncached (the benched operator always does
    its own work)."""
    from .neardup import _ml_exact_pairs

    edges = (
        _ml_exact_pairs(spark, sf_dir)
        .filter(F.col("jaccard_x10000") >= 8000)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    vertices = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    cc = connected_components(edges, vertices)
    return cc.select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_id"))


def _lsh_cluster_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) — the cluster label midframe consumed by
    q_cluster_representative, q_cluster_aware_split, and through them
    q_pretrain_corpus. Computed FRESH on every call (round 8): until
    this round the frame was memoized per (application, sf_dir), which
    meant the second and later invocations of any consumer — including
    the bench's warm-up -> timed runs — read the FIRST run's labels
    instead of computing them, i.e. cross-run result caching, which
    the bench methodology forbids. The architectural point stands and
    lives in the docstrings (a 100 TB pipeline clusters once and
    persists the labels as a TABLE all consumers read); inside this
    engine every invocation now pays for its own clustering. The lazy
    localCheckpoint below is within-plan reuse only: consumers that
    reference the labels several times in one query read the
    checkpointed RDD instead of replaying the CC."""
    return _lsh_cluster_compute(spark, sf_dir).localCheckpoint(eager=False)


_BFS_ROUNDS = 3

_BFS_EDGES_SQL = """
    e0 AS (
      SELECT DISTINCT 2 * o_custkey AS u, 2 * l_suppkey + 1 AS v
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    und AS (
      SELECT u AS src, v AS dst FROM e0
      UNION ALL
      SELECT v AS src, u AS dst FROM e0
    ),
    d0 AS (
      SELECT 2 * s_suppkey + 1 AS node, CAST(0 AS BIGINT) AS hops
      FROM supplier WHERE s_suppkey < 5
    )
"""


def _bfs_round_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
      FROM (
        SELECT node, hops FROM {prev}
        UNION ALL
        SELECT e.dst AS node, d.hops + 1 AS hops
        FROM {prev} d JOIN und e ON d.node = e.src
      )
      GROUP BY node
    )"""


def _bfs_oracle() -> str:
    rounds = ",".join(
        _bfs_round_sql(f"d{i}", f"d{i + 1}") for i in range(_BFS_ROUNDS)
    )
    return f"""
    WITH {_BFS_EDGES_SQL}, {rounds}
    SELECT CAST(node AS BIGINT) AS node, hops FROM d{_BFS_ROUNDS}
    """


@query(
    "q_bfs_hops",
    oracle=_bfs_oracle(),
    tags=("graph", "iterative", "bfs", "shortest-path"),
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance (unweighted shortest path) on the
    undirected customer<->supplier trade graph (_edges.trade_edges,
    shared with PageRank), seeded from the first five suppliers
    (present at every SF); nodes not reached within 3 rounds are
    absent from the output.

    The Pregel-style frontier loop as DataFrames: each round is ONE
    edge equi-join (expand the current distance table along edges) plus
    ONE min-aggregate (keep the shortest label per node) — two key
    shuffles per round, never an all-pairs step; the round count is
    FIXED so the whole computation is a deterministic dataflow the
    oracle mirrors as a chained CTE (the house pattern for iterative
    ops: q_pagerank, q_kmeans_lloyd). All values are exact ints.

    100 TB posture: the full-distance-table rejoin is the simple
    textbook form; the production refinement is q_bfs_delta_frontier
    (expand only nodes first reached last round — the frontier
    shrinks geometrically on small-diameter graphs — with a
    localCheckpoint per round to cut lineage). Edge list shuffles on
    src each round; co-partitioning with the distance table makes
    rounds 2+ exchange-free on a real cluster."""
    s = load_table(spark, sf_dir, "supplier")
    # evaluated once, reused every round (join+distinct is the costly part)
    und = trade_edges(spark, sf_dir).localCheckpoint(eager=True)

    dist = s.filter(F.col("s_suppkey") < 5).select(
        (F.col("s_suppkey") * 2 + 1).alias("node"),
        F.lit(0).cast("long").alias("hops"),
    )
    for _ in range(_BFS_ROUNDS):
        expanded = und.join(dist, und["src"] == dist["node"]).select(
            F.col("dst").alias("node"), (F.col("hops") + F.lit(1)).alias("hops")
        )
        dist = (
            dist.unionAll(expanded)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
    return dist


@query(
    "q_bfs_delta_frontier",
    oracle=_bfs_oracle(),
    tags=("graph", "iterative", "bfs", "frontier", "shortest-path"),
)
def q_bfs_delta_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-frontier BFS — the production refinement q_bfs_hops's
    docstring promises, now implemented and oracle-checked against the
    SAME chained-CTE oracle (identical semantics: in min-hop BFS a
    node's final distance is the round it is FIRST reached, so
    expanding only last round's newly-labeled frontier is exact, not
    an approximation).

    Per round: ONE edge equi-join sized by the FRONTIER (not the full
    distance table) and ONE left-anti join against the labeled set —
    on small-diameter graphs the frontier shrinks geometrically after
    saturation, so rounds 2+ move a vanishing fraction of q_bfs_hops's
    per-round shuffle. Each round's labeled set is localCheckpoint'ed
    LAZILY (eager=False): the lineage truncation + persist-for-reuse
    semantics are identical (round k's frontier computes once and is
    read back by the next round's join and every later anti-join), but
    the whole BFS executes as ONE job instead of one driver-blocking
    job per round — the round-4 sweep measured the eager form's ~1 s
    per-round job-launch tax making delta BFS a wash on this
    diameter-3 graph; lazy checkpointing removes exactly that tax.

    100 TB posture: this IS the BFS you run at scale — per-round cost
    tracks |frontier| x avg-degree, and the tiled-graph growth sweep
    (scripts/growth_sweep.py --graph) measures it flat where the
    full-rejoin variant pays the 10x edge scan every round. The
    remaining refinement on a real cluster is co-partitioning the edge
    list with the frontier (exchange-free rounds 2+)."""
    s = load_table(spark, sf_dir, "supplier")
    und = trade_edges(spark, sf_dir).localCheckpoint(eager=False)

    # checkpoint the FRONTIER each round (it is joined next round and
    # anti-joined forever after); dist stays a cheap union of the <= 4
    # checkpointed frontier generations — no lineage replay anywhere
    frontier = (
        s.filter(F.col("s_suppkey") < 5)
        .select(
            (F.col("s_suppkey") * 2 + 1).alias("node"),
            F.lit(0).cast("long").alias("hops"),
        )
        .localCheckpoint(eager=False)
    )
    dist = frontier
    for r in range(1, _BFS_ROUNDS + 1):
        reached = (
            und.join(frontier, und["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            reached.join(dist, "node", "left_anti")
            .select("node", F.lit(r).cast("long").alias("hops"))
            .localCheckpoint(eager=False)
        )
        dist = dist.unionAll(new)
        frontier = new
    return dist


@query(
    "q_cluster_aware_split",
    oracle=_lsh_clusters_sql()
    + """
    , assigned AS (
      SELECT doc_id, cluster_id,
             CASE WHEN (((((CAST(0 AS BIGINT)) * 16 + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16 + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16 + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) % 100 < 90
                  THEN 'train' ELSE 'test' END AS naive_split,
             CASE WHEN (((((CAST(0 AS BIGINT)) * 16 + instr('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)) - 1) * 16 + instr('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)), 2, 1)) - 1) * 16 + instr('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)), 3, 1)) - 1) * 16 + instr('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)), 4, 1)) - 1) % 100 < 90
                  THEN 'train' ELSE 'test' END AS cluster_split
      FROM clusters
    ), per_cluster AS (
      SELECT cluster_id,
             COUNT(*) AS sz,
             COUNT(DISTINCT naive_split) AS naive_sides,
             COUNT(DISTINCT cluster_split) AS cluster_sides
      FROM assigned GROUP BY cluster_id
    )
    SELECT
      CAST((SELECT COUNT(*) FROM assigned) AS BIGINT) AS n_docs,
      CAST((SELECT COUNT(*) FROM per_cluster) AS BIGINT) AS n_clusters,
      CAST((SELECT COUNT(*) FROM per_cluster WHERE sz > 1) AS BIGINT)
        AS n_multi_clusters,
      CAST((SELECT COUNT(*) FROM per_cluster WHERE sz > 1 AND naive_sides > 1)
        AS BIGINT) AS naive_leaky_clusters,
      CAST((SELECT COUNT(*) FROM per_cluster WHERE cluster_sides > 1) AS BIGINT)
        AS cluster_leaky_clusters,
      CAST((SELECT COUNT(*) FROM assigned WHERE naive_split <> cluster_split)
        AS BIGINT) AS n_docs_reassigned
    """,
    tags=("graph", "split", "leakage", "llm-pipeline"),
)
def q_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split hygiene for training data: a naive per-document hash
    split strands near-duplicates on BOTH sides of train/test (the
    most common eval-leakage bug); hashing the CLUSTER id instead
    moves every near-dup family to one side atomically. The report
    quantifies the difference: clusters the naive split leaks across
    the boundary, clusters the cluster-aware split leaks (structurally
    zero — the split is a function of cluster_id), and how many docs
    the fix reassigns.

    Determinism: cluster ids come from q_dedup_clusters' connected
    components (LSH-banded edges + star-contraction CC as of round 4 —
    the whole split pipeline is now quadratic-stage-free, and the
    oracle replays the same LSH edges via the md5 twin); both split
    assignments use the
    engine-portable md5-hex-digit bucket from q_hash_split. All
    outputs are exact counts.

    Scale: the cluster labeling is the CC pass (O(|E|) per round,
    near-dup diameters are tiny); everything after is two hash
    aggregates over |docs| rows. The leakage report is the cheap
    audit you run BEFORE burning GPU-hours on a contaminated eval."""
    from .llm_pipeline import _hex_val_sql

    clusters = _lsh_cluster_frame(spark, sf_dir).select(
        "doc_id",
        "cluster_id",
        F.md5(F.col("doc_id").cast("string")).alias("hd"),
        F.md5(F.col("cluster_id").cast("string")).alias("hc"),
    )
    bucket_doc = F.expr(_hex_val_sql("hd")) % 100
    bucket_cl = F.expr(_hex_val_sql("hc")) % 100
    assigned = clusters.select(
        "doc_id",
        "cluster_id",
        F.when(bucket_doc < 90, "train").otherwise("test").alias("naive_split"),
        F.when(bucket_cl < 90, "train").otherwise("test").alias("cluster_split"),
    )
    per_cluster = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct("naive_split").alias("naive_sides"),
        F.countDistinct("cluster_split").alias("cluster_sides"),
    )
    doc_stats = assigned.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (F.col("naive_split") != F.col("cluster_split")).cast("long")
        ).alias("n_docs_reassigned"),
    )
    cl_stats = per_cluster.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum((F.col("sz") > 1).cast("long")).alias("n_multi_clusters"),
        F.sum(((F.col("sz") > 1) & (F.col("naive_sides") > 1)).cast("long")).alias(
            "naive_leaky_clusters"
        ),
        F.sum((F.col("cluster_sides") > 1).cast("long")).alias(
            "cluster_leaky_clusters"
        ),
    )
    return doc_stats.crossJoin(F.broadcast(cl_stats)).select(
        "n_docs",
        "n_clusters",
        "n_multi_clusters",
        "naive_leaky_clusters",
        "cluster_leaky_clusters",
        "n_docs_reassigned",
    )


@query(
    "q_cluster_representative",
    oracle=_lsh_clusters_sql()
    + """
    ,
    scored AS (
      SELECT c.doc_id, c.cluster_id,
             CASE WHEN len(list_filter(string_split(d.text, ' '), x -> x <> ''))
                       >= 10 THEN 1 ELSE 0 END AS len_ok,
             d.n_chars
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           (row_number() OVER (PARTITION BY cluster_id
                               ORDER BY len_ok DESC, n_chars DESC, doc_id)
            = 1) AS is_representative
    FROM scored
    """,
    tags=("graph", "dedup", "clusters", "curation", "llm-pipeline"),
)
def q_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-the-BEST dedup: near-dup clusters (q_dedup_clusters'
    edges + components, reused verbatim) with the representative
    chosen by QUALITY — word-count rule pass first, then longest,
    then doc_id — instead of the min-id convention. This is the
    selection step real pipelines run after clustering: dropping
    every non-canonical row keeps the best version of each duplicated
    document, not the one that happened to crawl first.

    The quality key is all-integer (rule flag, n_chars, doc_id), so
    the argmax is deterministic and engine-identical; cluster sizes
    ride the same window partitioning.

    Plan: the cluster labels come from q_dedup_clusters (round 4: the
    LSH-banded + star-contraction composition — no quadratic stage);
    scoring joins labels back to the doc table on doc_id and runs ONE
    window over cluster_id — shuffle bounded by |docs|. Labels come
    from _lsh_cluster_frame, computed FRESH per invocation since
    round 8 (the former session memo was cross-run result caching —
    see its docstring); at 100 TB you cluster once into a TABLE and
    every consumer reads the labels."""
    clusters = _lsh_cluster_frame(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    scored = clusters.join(
        d.select(
            "doc_id",
            (F.size(toks) >= 10).cast("int").alias("len_ok"),
            "n_chars",
        ),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id")
    w_rank = w.orderBy(
        F.desc("len_ok"), F.desc("n_chars"), F.asc("doc_id")
    )
    return scored.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        (F.row_number().over(w_rank) == 1).alias("is_representative"),
    )


# Broadcast budget for the k-core keep set: ~100M longs is ~800MB
# serialized — the point where a broadcast vertex set stops fitting
# comfortably on executors/driver and the semi-joins should fall back
# to the shuffle form. The docstring's documented ceiling, now enforced
# in code (VERDICT r6 next-round #5).
_KCORE_BROADCAST_MAX_VERTICES = 100_000_000


@query(
    "q_kcore_peel",
    oracle="""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    k1 AS MATERIALIZED (
      SELECT v FROM (
        SELECT pa AS v FROM e0 UNION ALL SELECT pb AS v FROM e0
      ) GROUP BY v HAVING COUNT(*) >= 3
    ),
    e1 AS MATERIALIZED (
      SELECT pa, pb FROM e0
      WHERE pa IN (SELECT v FROM k1) AND pb IN (SELECT v FROM k1)
    ),
    k2 AS MATERIALIZED (
      SELECT v FROM (
        SELECT pa AS v FROM e1 UNION ALL SELECT pb AS v FROM e1
      ) GROUP BY v HAVING COUNT(*) >= 3
    ),
    e2 AS MATERIALIZED (
      SELECT pa, pb FROM e1
      WHERE pa IN (SELECT v FROM k2) AND pb IN (SELECT v FROM k2)
    ),
    k3 AS MATERIALIZED (
      SELECT v FROM (
        SELECT pa AS v FROM e2 UNION ALL SELECT pb AS v FROM e2
      ) GROUP BY v HAVING COUNT(*) >= 3
    ),
    e3 AS MATERIALIZED (
      SELECT pa, pb FROM e2
      WHERE pa IN (SELECT v FROM k3) AND pb IN (SELECT v FROM k3)
    ),
    k4 AS MATERIALIZED (
      SELECT v FROM (
        SELECT pa AS v FROM e3 UNION ALL SELECT pb AS v FROM e3
      ) GROUP BY v HAVING COUNT(*) >= 3
    ),
    e4 AS MATERIALIZED (
      SELECT pa, pb FROM e3
      WHERE pa IN (SELECT v FROM k4) AND pb IN (SELECT v FROM k4)
    )
    SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
    FROM (
      SELECT pa AS v FROM e4 UNION ALL SELECT pb AS v FROM e4
    ) GROUP BY v
    """,
    tags=("graph", "kcore", "iterative", "peeling"),
)
def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k = 3) of the part co-purchase graph by
    iterative peeling, statically unrolled to 4 rounds: each round
    drops nodes whose CURRENT degree is below k and the edges touching
    them, which can push other nodes below k — the standard dense-
    subgraph / spam-cluster extractor. Both engines run the identical
    4-round peel (the oracle is the same chained computation as
    CTEs), so the surviving (node, degree) table hashes exactly.

    Round 4: each round's shrunken edge set is localCheckpoint'ed —
    the connected_components lineage pattern. Without it the final
    plan nests every earlier round (each referencing the edge set
    three times: degree agg + two semi-joins), and the 10x tiled-graph
    sweep measured the recompute tax at 145s; with per-round
    materialization the peel is 4 independent two-shuffle rounds over
    an only-shrinking edge list. At 100 TB swap the fixed unroll for a
    driver loop with a convergence fingerprint like q_dedup_clusters.

    Scale: each round is one degree aggregate over 2|E| endpoint rows
    plus two BROADCAST semi-joins keyed on the node id — no all-pairs,
    no materialized neighborhoods; the edge set only shrinks. The keep
    set is VERTEX-sized (distinct part keys: ~200k at sf0.1, ~2M at the
    10x tiles — tens of MB of longs), so broadcasting it makes both
    endpoint filters map-side and removes the two 12M-row EDGE shuffles
    per round that dominated the round-5 sweep's 49.2 s wall (round-6
    re-sweep: see SCALE.md). At true 100 TB vertex counts (>~100M
    survivors) the broadcast no longer fits — the guard below counts
    the checkpointed keep set each round and mechanically drops the
    hint past _KCORE_BROADCAST_MAX_VERTICES, degrading gracefully to
    the shuffle form this replaced instead of OOMing the driver. Edge derivation — the op's dominant constant in the
    round-4 10x sweep (93.7 s wall, mostly the 12M-pair self-join +
    distinct) — reads _edges.copurchase_edges, derived fresh per
    invocation since round 8 (the session memo was cross-run result
    caching; the within-run checkpoint remains)."""
    # root of the peel; round 1 reads a narrow filter over the shared
    # checkpoint, later rounds checkpoint their own shrunken sets
    edges = copurchase_edges(spark, sf_dir)
    for _ in range(4):
        keep = (
            edges.select(F.col("pa").alias("v"))
            .unionAll(edges.select(F.col("pb").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= 3)
            .select("v")
            .localCheckpoint(eager=True)  # vertex-sized; reused by both arms
        )
        # Mechanical broadcast guard (was documentary): the keep set is
        # counted each round (one cheap job over the checkpointed
        # vertex table) and the broadcast hint applies only while it
        # fits a driver/executor budget — past ~100M survivors the
        # semi-joins degrade gracefully to the shuffle form instead of
        # OOMing the driver.
        if keep.count() <= _KCORE_BROADCAST_MAX_VERTICES:
            pa_side = F.broadcast(keep.select(F.col("v").alias("pa")))
            pb_side = F.broadcast(keep.select(F.col("v").alias("pb")))
        else:
            pa_side = keep.select(F.col("v").alias("pa"))
            pb_side = keep.select(F.col("v").alias("pb"))
        edges = (
            edges.join(pa_side, "pa", "left_semi")
            .join(pb_side, "pb", "left_semi")
            .localCheckpoint(eager=True)
        )
    return (
        edges.select(F.col("pa").alias("v"))
        .unionAll(edges.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


# ---------------------------------------------------------------------
# q_truss_support (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_truss_support",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS MATERIALIZED (SELECT DISTINCT pa, pb FROM pairs),
    nbrs AS MATERIALIZED (
      SELECT pa AS v, pb AS w FROM edges
      UNION ALL SELECT pb AS v, pa AS w FROM edges
    ),
    tri AS (
      SELECT e.pa, e.pb, CAST(COUNT(*) AS BIGINT) AS support
      FROM edges e
      JOIN nbrs na ON na.v = e.pa
      JOIN nbrs nb ON nb.v = e.pb AND nb.w = na.w
      GROUP BY e.pa, e.pb
    ),
    sup AS (
      SELECT e.pa, e.pb, COALESCE(t.support, 0) AS support
      FROM edges e LEFT JOIN tri t ON t.pa = e.pa AND t.pb = e.pb
    )
    SELECT support, CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM sup GROUP BY support
    """,
    tags=("graph", "truss", "triangles", "cohesion"),
)
def q_truss_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EDGE triangle support histogram of the part co-purchase
    graph — the k-truss readiness report: an edge with support s
    survives in the (s+2)-truss candidate set, so the histogram says
    exactly how much of the graph each truss level would keep (the
    edge-cohesion complement to q_kcore_peel's vertex peel and
    q_copurchase_triangles' global count). Support(u,v) =
    |N(u) inter N(v)| via the standard edge-anchored wedge join:
    edges join neighbor lists of BOTH endpoints on the shared third
    vertex — each triangle is counted once per edge, exactly.

    Scale: fan-out is sum over edges of min-endpoint degree (the
    triangle-enumeration bound, same envelope as q_adamic_adar's
    common-neighbor join; at 100 TB orient wedges from the
    lower-degree endpoint and df-cap super-hubs first). Zero-support
    edges re-enter via a key-wise left join; output is a bounded
    histogram (max degree rows). Edge derivation is the family-shared
    checkpoint (_edges.copurchase_edges)."""
    edges = copurchase_edges(spark, sf_dir)
    nbrs = edges.select(
        F.col("pa").alias("v"), F.col("pb").alias("w")
    ).unionAll(edges.select(F.col("pb").alias("v"), F.col("pa").alias("w")))
    na = nbrs.select(F.col("v").alias("va"), F.col("w").alias("wa"))
    nb = nbrs.select(F.col("v").alias("vb"), F.col("w").alias("wb"))
    tri = (
        edges.join(na, F.col("va") == F.col("pa"))
        .join(nb, (F.col("vb") == F.col("pb")) & (F.col("wb") == F.col("wa")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    sup = edges.join(tri, ["pa", "pb"], "left").select(
        F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support")
    )
    return sup.groupBy("support").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )

"""Density-based clustering over the embedding corpus: grid-density
DBSCAN (cell-granular) on a 2-d quantized projection.

Why the CELL-granular variant: point-granular DBSCAN needs an
eps-neighbor join (bounded here by 3x3 grid blocking — fine) but then
connected components over the POINT adjacency graph, whose component
size is unbounded in the data — the oracle's transitive closure and
the CC shuffle both scale with sum(|component|^2) in the worst case.
Snapping density to the grid first (a cell is dense when its 3x3
neighborhood holds >= MINPTS points; clusters are components of the
ADJACENT-DENSE-CELL graph) bounds the component machinery by the
number of occupied cells — data-size independent once the grid is
fixed — while keeping every step exact integer arithmetic. This is
the standard scale move (GriDBSCAN / grid variants); the price is
cluster boundaries quantized to cell resolution, stated here rather
than hidden.

Exactness: coordinates are round(v * 1e4) + 1e4 — the +1e4 shift
makes every coordinate non-negative so Spark's `div` (truncating) and
DuckDB's `//` (flooring) agree on the cell assignment. Everything
downstream is integer counts and min-labels.

At 100 TB: the per-point work is one map-side projection + one cell
hash-aggregate (map-side combinable; key space = occupied cells).
All density logic, the component iteration, and the role table live
at CELL granularity (metadata-sized); points rejoin their cell's
verdict through a broadcast. No point-level self-join anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.loader import fan_out, load_table
from .graph import connected_components

_EPS = 200       # cell width in 1e-4 embedding units (0.02)
_MINPTS = 10     # points in the 3x3 neighborhood for a dense cell
_CK = 100_000    # cell key = cx * _CK + cy  (cx, cy < ~110)

_PTS_SQL = f"""
    pts AS (
      SELECT vec_id,
             (CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT)
              + 10000) // {_EPS} AS cx,
             (CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 10000) AS BIGINT)
              + 10000) // {_EPS} AS cy
      FROM embeddings
    ),
    cells AS (
      SELECT cx, cy, cx * {_CK} + cy AS ck, CAST(COUNT(*) AS BIGINT) AS n
      FROM pts GROUP BY cx, cy
    ),
    off(dx, dy) AS (
      SELECT a.x, b.x
      FROM (SELECT unnest([-1, 0, 1]) AS x) a,
           (SELECT unnest([-1, 0, 1]) AS x) b
    ),
    nbr AS (  -- 3x3 neighborhood mass for every occupied cell
      SELECT t.ck, t.cx, t.cy, t.n,
             CAST(SUM(s.n) AS BIGINT) AS nbr_n
      FROM cells t
      JOIN off ON TRUE
      JOIN cells s ON s.cx = t.cx + off.dx AND s.cy = t.cy + off.dy
      GROUP BY t.ck, t.cx, t.cy, t.n
    ),
    dense AS (SELECT * FROM nbr WHERE nbr_n >= {_MINPTS})
"""


def _density_oracle() -> str:
    return f"""
    WITH {_PTS_SQL},
    dedges AS (  -- adjacency between distinct dense cells
      SELECT d.ck AS s, e.ck AS d
      FROM dense d
      JOIN off ON TRUE
      JOIN dense e ON e.cx = d.cx + off.dx AND e.cy = d.cy + off.dy
      WHERE d.ck <> e.ck
    ),
    sym AS (
      SELECT s, d FROM dedges
      UNION
      SELECT ck, ck FROM dense
    ),
    reach AS (
      WITH RECURSIVE r(s, d) AS (
        SELECT s, d FROM sym
        UNION
        SELECT r.s, y.d FROM r JOIN sym y ON y.s = r.d
      ) SELECT * FROM r
    ),
    comp AS (SELECT s AS ck, CAST(MIN(d) AS BIGINT) AS cluster FROM reach GROUP BY s),
    border_src AS (  -- min dense-neighbor cluster offered to each adjacent cell
      SELECT d.cx + off.dx AS cx, d.cy + off.dy AS cy,
             MIN(c.cluster) AS b_cluster
      FROM dense d JOIN comp c ON c.ck = d.ck JOIN off ON TRUE
      GROUP BY 1, 2
    ),
    verdict AS (
      SELECT cells.ck, cells.cx, cells.cy,
             CASE WHEN comp.cluster IS NOT NULL THEN 'core'
                  WHEN b.b_cluster IS NOT NULL THEN 'border'
                  ELSE 'noise' END AS role,
             CAST(COALESCE(comp.cluster, b.b_cluster, -1) AS BIGINT) AS cluster
      FROM cells
      LEFT JOIN comp ON comp.ck = cells.ck
      LEFT JOIN border_src b ON b.cx = cells.cx AND b.cy = cells.cy
    )
    SELECT p.vec_id, v.role, v.cluster
    FROM pts p JOIN verdict v ON v.cx = p.cx AND v.cy = p.cy
    """


@query(
    "q_grid_dbscan",
    oracle=_density_oracle(),
    tags=("clustering", "density", "dbscan", "grid", "iterative"),
)
def q_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density DBSCAN over the 2-d quantized projection of the
    embedding corpus (dims 0/1, round(v*1e4)+1e4): a cell is DENSE
    (core) when its 3x3 cell neighborhood holds >= 10 points;
    clusters are connected components of the adjacent-dense-cell
    graph labeled by min cell key; occupied non-dense cells adjacent
    to a dense cell are BORDER (inheriting the minimum neighboring
    cluster); the rest are NOISE. Every point receives its cell's
    verdict: (vec_id, role, cluster), cluster = -1 for noise.

    Spark side runs the component step with the shared large-star /
    small-star CC (operators/graph.py — grid regions snake, so their
    diameter grows with the grid; star contraction is O(log^2 n)
    rounds regardless); the oracle replays it as a
    recursive-CTE transitive closure over the same dense-cell edges —
    both bounded by |occupied cells|, not |points| (module docstring
    has the why)."""
    # r8 note: fan_out tried and REJECTED by measurement (5.8 s ->
    # 6.3 s): pts' projection is two cheap exprs and the very next op
    # is the cells aggregate's own exchange, so the fan-out shuffle
    # bought no parallelism that the aggregate didn't already provide.
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.expr(
            f"(CAST(ROUND(CAST(embedding[0] AS DOUBLE) * 10000) AS BIGINT)"
            f" + 10000) div {_EPS}"
        ).alias("cx"),
        F.expr(
            f"(CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT)"
            f" + 10000) div {_EPS}"
        ).alias("cy"),
    )
    cells = pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n")).select(
        "cx", "cy", (F.col("cx") * _CK + F.col("cy")).alias("ck"), "n"
    )
    # 9-way offset fan-out of the (tiny) cell table — donors offer
    # their mass to each neighboring cell key; only occupied targets
    # survive the equi-join. Map-side explode, no theta join.
    donors = cells.select(
        F.explode(
            F.expr(
                f"transform(array(-{_CK}-1, -{_CK}, -{_CK}+1, -1, 0, 1,"
                f" {_CK}-1, {_CK}, {_CK}+1), o -> ck + o)"
            )
        ).alias("tck"),
        F.col("n").alias("dn"),
    )
    nbr = (
        cells.join(donors, cells.ck == donors.tck)
        .groupBy("ck", "cx", "cy", "n")
        .agg(F.sum("dn").alias("nbr_n"))
    )
    dense = nbr.filter(F.col("nbr_n") >= _MINPTS).localCheckpoint(eager=True)
    # adjacency between dense cells, via the same key fan-out
    ddonors = dense.select(
        F.col("ck").alias("src"),
        F.explode(
            F.expr(
                f"transform(array(-{_CK}-1, -{_CK}, -{_CK}+1, -1, 1,"
                f" {_CK}-1, {_CK}, {_CK}+1), o -> ck + o)"
            )
        ).alias("dst"),
    )
    dedges = ddonors.join(
        dense.select(F.col("ck").alias("dst")), "dst"
    ).select("src", "dst")
    comp = connected_components(
        dedges, dense.select(F.col("ck").alias("id"))
    ).select(F.col("id").alias("ck"), F.col("component").alias("cluster"))
    # minimum cluster each dense cell offers to its 3x3 neighborhood
    border_src = (
        dense.join(comp, "ck")
        .select(
            F.explode(
                F.expr(
                    f"transform(array(-{_CK}-1, -{_CK}, -{_CK}+1, -1, 0, 1,"
                    f" {_CK}-1, {_CK}, {_CK}+1), o -> ck + o)"
                )
            ).alias("tck"),
            "cluster",
        )
        .groupBy("tck")
        .agg(F.min("cluster").alias("b_cluster"))
    )
    verdict = (
        cells.join(comp, "ck", "left")
        .join(border_src, cells.ck == border_src.tck, "left")
        .select(
            "cx",
            "cy",
            F.when(F.col("cluster").isNotNull(), "core")
            .when(F.col("b_cluster").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("cluster", "b_cluster", F.lit(-1))
            .cast("long")
            .alias("cluster"),
        )
    )
    return pts.join(F.broadcast(verdict), ["cx", "cy"]).select(
        "vec_id", "role", "cluster"
    )

"""Similarity search over embeddings (SURVEY.md §2.10): brute-force
cosine top-k (the exactness baseline), an IVF-style partitioned
variant (the scale path), and per-label centroid statistics.

Exactness: dot products / norms run on a scaled-integer grid (see the
comment at qint below) — order-independent, engine-independent;
DuckDB's float32-accumulating list_cosine_similarity is avoided.

Scale posture:
- brute force is O(q x n): fine for a query batch against a broadcast
  corpus chunk, wrong as an all-pairs primitive.
- IVF: coarse-quantize once (here: per-label centroids as the coarse
  codebook), probe only the nearest cells -> candidate set shrinks by
  the cell count; the candidate join is an equi-join on cell id, which
  shuffles O(n) rows instead of exploding pairs.
- centroids: posexplode -> (label, dim) hash agg: shuffle bounded by
  |labels| x dim after partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.loader import fan_out, load_table


# Cross-engine-exact vector math: quantize each float to an integer
# grid (x -> round(x * 1e8) as int64), then dot products and norms are
# pure int64 arithmetic — exact, order-independent, and type-stable in
# both engines (Spark's decimal accumulator would lose a scale digit
# per addition; DuckDB's float casts and list_cosine_similarity are
# inexact — measured). The 1e16 scale factors cancel in the cosine
# ratio. Headroom: |x| <= 0.53 in this corpus -> worst sum 1.8e17,
# far under 2^63. Ties in round(x*1e8) need 15 trailing zero mantissa
# bits AND both engines round half away from zero — consistent anyway.
_Q = 100_000_000


def qint(c):
    return F.round(c.cast("double") * _Q, 0).cast("long")


def dot_int(a, b):
    """Exact scaled-integer dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: qint(x) * qint(y))
    return F.aggregate(prods, F.lit(0).cast("long"), lambda s, x: s + x)


def cosine_expr(dot_col, norm2_a, norm2_b):
    return dot_col.cast("double") / (
        F.sqrt(norm2_a.cast("double")) * F.sqrt(norm2_b.cast("double"))
    )


_QI = f"CAST(ROUND(CAST({{x}} AS DOUBLE) * {_Q}, 0) AS BIGINT)"
_DOT_SQL = (
    "list_reduce(list_transform(range(1, 65), i -> "
    + _QI.format(x="{a}[i]") + " * " + _QI.format(x="{b}[i]")
    + "), (s, x) -> s + x)"
)
_NORM2_SQL = (
    "list_reduce(list_transform({a}, x -> "
    + _QI.format(x="x") + " * " + _QI.format(x="x")
    + "), (s, x) -> s + x)"
)


@query(
    "q_cosine_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding, {_NORM2_SQL.format(a="embedding")} AS norm2
      FROM embeddings
    ), q AS (
      SELECT * FROM v WHERE vec_id < 10
    ), scored AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             ROUND(CAST({_DOT_SQL.format(a="q.embedding", b="v.embedding")} AS DOUBLE)
                   / (sqrt(CAST(q.norm2 AS DOUBLE))
                      * sqrt(CAST(v.norm2 AS DOUBLE))), 6) AS cosine
      FROM q JOIN v ON v.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rn AS rank FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn
      FROM scored)
    WHERE rn <= 5
    """,
    tags=("similarity", "topk"),
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for a query batch
    (vec_id < 10) against the full corpus.

    The query side is broadcast (tiny); scoring is a broadcast
    nested-loop producing |q| x |n| rows that immediately collapse
    through a per-query top-k window. Ranking uses the ROUNDED cosine
    + neighbor_id tie-break so both engines rank identical values.
    At 100 TB the corpus side streams: each scan partition scores
    against the broadcast queries and keeps a local top-k
    (TakeOrdered semantics via the window after repartition by query).
    """
    # r9 (VERDICT r8 #2): r8 fanned out the shared base frame, which
    # BOTH consumers (broadcast query side + corpus side) executed
    # separately — two RoundRobinPartitioning exchanges shuffling the
    # heavy embedding arrays twice, driver-measured 0.61x. Now the
    # query side reads the raw scan (vec_id < 10 pushes into the
    # parquet scan — 10 rows, no shuffle) and ONLY the corpus side is
    # fanned out, once, ahead of the |q| x |n| dot-product stage.
    base = load_table(spark, sf_dir, "embeddings")
    v = fan_out(base).select(
        "vec_id", "embedding", dot_int(F.col("embedding"), F.col("embedding")).alias("norm2")
    )
    q = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        dot_int(F.col("embedding"), F.col("embedding")).alias("q_norm2"),
    )
    scored = (
        F.broadcast(q)
        .join(v, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_expr(dot_int(F.col("q_emb"), F.col("embedding")),
                            F.col("q_norm2"), F.col("norm2")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


@query(
    "q_embedding_centroids",
    oracle="""
    SELECT label, g.i AS dim,
           CAST(SUM(CAST(ROUND(CAST(embedding[g.i] AS DOUBLE) * 1000000000, 0)
                         AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 1000000000.0) AS centroid,
           COUNT(*) AS n_vectors
    FROM embeddings, generate_series(1, 64) AS g(i)
    GROUP BY label, g.i
    """,
    tags=("similarity", "centroid"),
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension), on the
    scaled-int grid: each element quantized to nano-units (exact
    integer double < 2^53), summed exactly, then ONE IEEE division by
    (count * 1e9), whose operands are exactly representable — so the
    mean is bit-identical cross-engine. The previous decimal(15,9)
    formulation died at sf0.1: Spark's float->decimal and DuckDB's
    CAST(double AS DECIMAL) rounded ONE element differently in 128k,
    a 5e-12 hash miss the sf0.1 sweep caught — ROUND-to-integer on
    the shared double value has no such edge. This is the 'training
    pass' reused by q_ann_ivf as the coarse codebook."""
    e = load_table(spark, sf_dir, "embeddings")
    expl = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    scaled = F.round(F.col("val").cast("double") * F.lit(1_000_000_000), 0).cast("long")
    return (
        expl.groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            (
                F.sum(scaled).cast("double")
                / (F.count(F.lit(1)) * F.lit(1_000_000_000.0))
            ).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


_IVF_NPROBE = 4
_IVF_TOPK = 5

_IVF_EXACT_ORACLE = f"""
    WITH ei AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      FROM embeddings
    ), pos AS (
      SELECT vec_id, label, unnest(v) AS val,
             CAST(unnest(generate_series(1, len(v))) AS INTEGER) AS pos
      FROM ei
    ), cells AS (
      SELECT label, pos, CAST(SUM(val) AS BIGINT) AS sval
      FROM pos GROUP BY label, pos
    ), snorm AS (
      SELECT label, CAST(SUM(sval * sval) AS BIGINT) AS snorm2
      FROM cells GROUP BY label
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM ei WHERE vec_id < 10
    ), qpos AS (
      SELECT query_id, unnest(qv) AS qval,
             CAST(unnest(generate_series(1, len(qv))) AS INTEGER) AS pos
      FROM q
    ), qq AS (
      SELECT query_id, CAST(SUM(qval * qval) AS BIGINT) AS qnorm2
      FROM qpos GROUP BY query_id
    ), celldot AS (
      SELECT qp.query_id, c.label, CAST(SUM(qp.qval * c.sval) AS BIGINT) AS dot
      FROM qpos qp JOIN cells c ON c.pos = qp.pos
      GROUP BY qp.query_id, c.label
    ), cellcos AS (
      SELECT d.query_id, d.label,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(qq.qnorm2 AS DOUBLE)) * sqrt(CAST(sn.snorm2 AS DOUBLE)))
               AS cell_cos
      FROM celldot d
      JOIN qq ON qq.query_id = d.query_id
      JOIN snorm sn ON sn.label = d.label
    ), probed AS (
      SELECT query_id, label FROM (
        SELECT query_id, label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cell_cos DESC, label) AS r
        FROM cellcos
      ) WHERE r <= {_IVF_NPROBE}
    ), cand AS (
      SELECT p.query_id, q.qv, e.vec_id AS neighbor_id, e.v
      FROM probed p
      JOIN q ON q.query_id = p.query_id
      JOIN ei e ON e.label = p.label
      WHERE e.vec_id <> p.query_id
    ), scored AS (
      SELECT query_id, neighbor_id,
             CAST(list_sum(list_transform(range(1, len(v) + 1),
                                          i -> qv[i] * v[i])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE)))
               AS cosine
      FROM cand
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           CAST(floor(cosine * 10000) AS BIGINT) AS cos_x10000
    FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_IVF_TOPK}
    """


@query(
    "q_ann_ivf",
    oracle=f"SELECT query_id, neighbor_id FROM ({_IVF_EXACT_ORACLE}) x",
    tags=("similarity", "ann", "ivf"),
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbor over the float path,
    scored on NEIGHBOR-SET MEMBERSHIP (round-3: was rows-only).

    Cells = per-label centroids (q_embedding_centroids as codebook).
    For each query: rank cells by centroid cosine, probe the top-4
    cells, score only vectors in those cells, keep top-5. The cell
    assignment join is equi on label — O(n) shuffle — and the scored
    candidate set is nprobe/ncells of the corpus: the standard
    recall/cost knob. Exact twin for recall measurement: q_cosine_topk.

    Oracle design: the output is (query_id, neighbor_id) only — the
    top-5 MEMBERSHIP, which the int-quantized twin's oracle
    (q_ann_ivf_exact) reproduces exactly: verified identical at all
    three shipped SFs. Rank and cosine stay OUT of the hash because
    double vs scaled-int arithmetic can (and at sf0.1 does) flip the
    order of near-ties inside the same top-5 set; q_ann_ivf_exact
    carries the fully-ranked, cosine-hashed surface. If a future
    testdata regen puts a near-tie exactly at the rank-5/6 boundary,
    this parity check is the designed tripwire (re-pin via the exact
    twin after inspecting).

    Honesty note about THIS corpus: the synthetic embeddings are
    isotropic (no cluster structure), so recall can't beat roughly
    the probed fraction no matter the codebook — measured ~0.3 at
    nprobe=2/10, ~0.5 at 4/10 (tests/test_skew_bucketing.py). On real
    clustered embeddings IVF recall is far above the probed fraction;
    the pipeline shape (train -> assign -> probe -> rerank) is what
    this operator demonstrates.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # codebook: label -> centroid array (collected per label, tiny)
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.expr("transform(pc, x -> x.c)").alias("centroid"))
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )

    def cos_double(a, b):
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        n1 = F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda s, x: s + x))
        n2 = F.sqrt(F.aggregate(F.transform(b, lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda s, x: s + x))
        return dot / (n1 * n2)

    # probe: top-2 cells per query by centroid cosine
    qc = F.broadcast(q).crossJoin(F.broadcast(cent)).select(
        "query_id", "q_emb", "label", cos_double(F.col("q_emb"), F.col("centroid")).alias("cell_cos")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cell_cos"), "label")
    probed = qc.withColumn("cell_rank", F.row_number().over(wq)).filter(F.col("cell_rank") <= 4)
    # candidate scoring within probed cells only
    cand = probed.join(e, "label").filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cos_double(F.col("q_emb"), F.col("embedding")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select("query_id", "neighbor_id")
    )


@query(
    "q_ann_ivf_kmeans",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           CAST(5 AS BIGINT) AS n_results,
           TRUE AS recall_ge_2of5
    FROM embeddings WHERE vec_id < 10
    """,
    tags=("similarity", "ann", "ivf", "kmeans"),
)
def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a LEARNED codebook — the real train->assign->probe
    pipeline: cells come from 2 Lloyd iterations (operators/
    clustering.py), not from the pre-existing label column q_ann_ivf
    leans on. Train is one negligible-shuffle pass per iteration;
    ASSIGN is map-only against broadcast-literal centroids (adds a
    cluster_id column, no shuffle); PROBE ranks cells per query by
    centroid cosine, scores only vectors in the top-4 cells via the
    cell equi-join, reranks exactly.

    Scored via the recall-contract surface (round-3: was rows-only):
    the learned float codebook is not SQL-replayable, so the output is
    per-query (n_results, recall_ge_2of5) against the exact
    brute-force top-5 computed in the same job. Both are deterministic
    given the data (fixed init = lowest-K vec_ids, fixed iteration
    count, tie-broken ranking); measured per-query overlap at the
    shipped SFs is 3-5 of 5 (isotropic synthetic embeddings —
    nprobe/ncells = 4/10 bounds what any codebook can do here), so the
    >= 2 bound has real margin. The neighbor ids themselves stay out of
    the hash; q_ann_ivf / q_ann_ivf_exact carry the hashed-membership
    and fully-ranked surfaces for the fixed-codebook variant."""
    from .clustering import K, _assign, _update

    e = load_table(spark, sf_dir, "embeddings")
    ev = e.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    init = ev.filter(F.col("vec_id") < K).collect()
    centroids = {int(r.vec_id): list(r.v) for r in init}
    for _ in range(2):
        centroids = _update(_assign(ev, centroids))
    assigned = _assign(ev, centroids).select("vec_id", "v", "cluster_id")

    cent = spark.createDataFrame(
        [(cid, c) for cid, c in sorted(centroids.items())],
        "cluster_id long, centroid array<double>",
    )
    q = assigned.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q_emb")
    )

    def cos_double(a, b):
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
        )
        n1 = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
        n2 = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
        return dot / (n1 * n2)

    qc = F.broadcast(q).crossJoin(F.broadcast(cent)).select(
        "query_id", "q_emb", "cluster_id",
        cos_double(F.col("q_emb"), F.col("centroid")).alias("cell_cos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cell_cos"), "cluster_id")
    probed = (
        qc.withColumn("cell_rank", F.row_number().over(wq))
        .filter(F.col("cell_rank") <= 4)
        .select("query_id", "q_emb", "cluster_id")
    )
    cand = probed.join(assigned, "cluster_id").filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cos_double(F.col("q_emb"), F.col("v")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    ivf = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select("query_id", "neighbor_id")
    )

    # exact brute-force top-5 in the same job (broadcast query batch —
    # the documented exactness baseline, 10 x N rows, never N^2)
    brute = (
        ev.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos_double(F.col("q_emb"), F.col("v")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select("query_id", "neighbor_id")
    )
    n_res = ivf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_results"))
    n_ov = (
        ivf.join(brute, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        n_res.join(n_ov, "query_id", "left")
        .select(
            "query_id",
            "n_results",
            (F.coalesce(F.col("n_overlap"), F.lit(0)) >= 2).alias("recall_ge_2of5"),
        )
    )


@query(
    "q_ann_ivf_exact",
    oracle=_IVF_EXACT_ORACLE,
    tags=("similarity", "ann", "ivf", "exact-oracle"),
)
def q_ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, FULLY oracle-checked — closes the "ANN is unscored"
    gap the same way q_minhash_lsh_exact closes LSH's: every stage is
    deterministic integer math plus IEEE-identical double expressions.
    Embeddings scale to 1e4 ints (exact in both engines); cells use
    the per-label SUM vector directly as the centroid direction
    (cosine is scale-invariant, so SUM ranks cells identically to
    AVG while staying in exact int64); cell ranking and final rerank
    compute cosine as the SAME double expression over those exact
    ints, which both engines round identically (mul/div/sqrt are
    correctly rounded IEEE ops). Output carries floor-scaled cosines,
    so the driver hash covers probe selection AND ranking.

    Plan shape matches q_ann_ivf: tiny codebook broadcast both ways,
    candidates via the label equi-join (O(n) shuffle), rerank only
    nprobe/ncells of the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    ei = e.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000) AS BIGINT))"
        ).alias("v"),
    )
    pos = ei.select("vec_id", "label", F.posexplode("v").alias("p", "val"))
    cells = pos.groupBy("label", "p").agg(F.sum("val").alias("sval"))
    snorm = cells.groupBy("label").agg(
        F.sum(F.col("sval") * F.col("sval")).alias("snorm2")
    )
    q = ei.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    qpos = q.select("query_id", F.posexplode("qv").alias("p", "qval"))
    qq = qpos.groupBy("query_id").agg(
        F.sum(F.col("qval") * F.col("qval")).alias("qnorm2")
    )
    celldot = (
        qpos.join(cells, "p")
        .groupBy("query_id", "label")
        .agg(F.sum(F.col("qval") * F.col("sval")).alias("dot"))
    )
    cellcos = (
        celldot.join(qq, "query_id")
        .join(F.broadcast(snorm), "label")
        .select(
            "query_id",
            "label",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("qnorm2").cast("double"))
                    * F.sqrt(F.col("snorm2").cast("double"))
                )
            ).alias("cell_cos"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cell_cos"), "label")
    probed = (
        cellcos.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= _IVF_NPROBE)
        .select("query_id", "label")
    )
    int_dot = F.expr(
        "aggregate(zip_with(qv, v, (x, y) -> x * y), CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    int_norm2 = lambda c: F.expr(
        f"aggregate(transform({c}, x -> x * x), CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    cand = (
        probed.join(F.broadcast(q), "query_id")
        .join(ei, "label")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                int_dot.cast("double")
                / (
                    F.sqrt(int_norm2("qv").cast("double"))
                    * F.sqrt(int_norm2("v").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.floor(F.col("cosine") * 10000).cast("bigint").alias("cos_x10000"),
        )
    )


# ---- Product quantization (PQ) ANN ---------------------------------
# 64 dims -> _PQ_M subspaces of _PQ_D dims; codebook = the subvectors
# of the first _PQ_K corpus vectors (sampled codebook). All distances
# run on the scaled-int grid, so encode, ADC, and ranking are exact
# integer arithmetic in BOTH engines — no float boundary anywhere.
_PQ_M = 8  # subspaces
_PQ_D = 8  # dims per subspace
_PQ_K = 16  # codewords per subspace
_PQ_NQ = 10  # query batch: vec_id < 10
_PQ_TOPK = 5

_D2_SQL = (
    "list_reduce(list_transform(range(1, " + str(_PQ_D + 1) + "), i -> ("
    + _QI.format(x="{a}[i]") + " - " + _QI.format(x="{b}[i]") + ") * ("
    + _QI.format(x="{a}[i]") + " - " + _QI.format(x="{b}[i]")
    + ")), (s, x) -> s + x)"
)

_PQ_SHORTLIST = 100  # ADC shortlist size feeding the exact rerank

_D2_FULL_SQL = (
    "list_reduce(list_transform(range(1, 65), i -> ("
    + _QI.format(x="{a}[i]") + " - " + _QI.format(x="{b}[i]") + ") * ("
    + _QI.format(x="{a}[i]") + " - " + _QI.format(x="{b}[i]")
    + ")), (s, x) -> s + x)"
)

# sub -> cw -> enc -> lut -> scored: the shared encode+ADC dataflow,
# prefixed onto both PQ oracles below.
_PQ_SCORED_CTES = f"""
    WITH sub AS (
      SELECT vec_id, m,
             embedding[(m * {_PQ_D} + 1):(m * {_PQ_D} + {_PQ_D})] AS sv
      FROM embeddings, range(0, {_PQ_M}) t(m)
    ),
    cw AS (
      SELECT vec_id AS code, m, sv FROM sub WHERE vec_id < {_PQ_K}
    ),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, cw.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY {_D2_SQL.format(a="s.sv", b="cw.sv")}, cw.code
               ) AS rn
        FROM sub s JOIN cw ON s.m = cw.m
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT q.vec_id AS query_id, cw.m, cw.code,
             {_D2_SQL.format(a="q.sv", b="cw.sv")} AS d2
      FROM sub q JOIN cw ON q.m = cw.m
      WHERE q.vec_id < {_PQ_NQ}
    ),
    scored AS (
      SELECT l.query_id, e.vec_id AS neighbor_id,
             CAST(SUM(l.d2) AS BIGINT) AS adc_d2
      FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code
      WHERE e.vec_id <> l.query_id
      GROUP BY 1, 2
    )
"""

_PQ_ORACLE = f"""
    {_PQ_SCORED_CTES}
    SELECT query_id, neighbor_id, adc_d2, rank FROM (
      SELECT query_id, neighbor_id, adc_d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_d2, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_PQ_TOPK}
    """

_PQ_RERANK_ORACLE = f"""
    {_PQ_SCORED_CTES},
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_d2, neighbor_id) AS rn
        FROM scored
      ) WHERE rn <= {_PQ_SHORTLIST}
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             CAST({_D2_FULL_SQL.format(a="q.embedding", b="n.embedding")}
                  AS BIGINT) AS d2
      FROM short s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings n ON n.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, d2, rank FROM (
      SELECT query_id, neighbor_id, d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY d2, neighbor_id) AS rank
      FROM exact
    ) WHERE rank <= {_PQ_TOPK}
    """


def _d2_int(a, b):
    """Exact scaled-integer squared L2 distance of two float arrays."""
    diffs = F.zip_with(a, b, lambda x, y: (qint(x) - qint(y)) * (qint(x) - qint(y)))
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda s, x: s + x)


def _pq_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared PQ dataflow: split -> codebook -> encode (argmin) ->
    per-query ADC lookup table -> summed approximate distances.
    Returns (query_id, neighbor_id, adc_d2), self-pairs excluded.

    Physical design: the _PQ_D subspace dims are FLATTENED to scalar
    columns (a0..a7 / b0..b7) so the n x k candidate distances are one
    whole-stage-codegen arithmetic expression — measured ~5x faster at
    sf0.1 than the array zip_with/aggregate HOF form, which Spark
    evaluates interpreted with per-row array allocation (the HOF path
    stays right for variable/large dims; PQ subspaces are small by
    construction). The encode argmin is a hash aggregate over
    min(struct(d2, code)) — map-side combinable, deterministic
    (lexicographic = the (d2, code) tie-break) — not a sort-based
    row_number window over all n x m x k rows."""
    # r9 (VERDICT r8 #2): r8 fanned out the shared base frame, which
    # all three consumers (codebook, LUT, full-corpus encode) executed
    # separately — three RoundRobinPartitioning exchanges shuffling the
    # embedding arrays, driver-measured 0.69x. The codebook and LUT
    # sides now read the raw scan (their vec_id < {16, NQ} filters push
    # into the parquet scan) and ONLY the O(n) encode side fans out,
    # once, ahead of the n x k candidate-distance stage.
    base = load_table(spark, sf_dir, "embeddings")

    def subvectors(df: DataFrame) -> DataFrame:
        return df.select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m"),
            "embedding",
        ).select(
            "vec_id",
            "m",
            *[
                qint(F.element_at("embedding", F.col("m") * _PQ_D + i + 1)).alias(f"a{i}")
                for i in range(_PQ_D)
            ],
        )

    sub = subvectors(fan_out(base))
    sub_small = subvectors(base)
    cw = sub_small.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code"),
        F.col("m").alias("cm"),
        *[F.col(f"a{i}").alias(f"b{i}") for i in range(_PQ_D)],
    )
    d2 = sum(
        (F.col(f"a{i}") - F.col(f"b{i}")) * (F.col(f"a{i}") - F.col(f"b{i}"))
        for i in range(_PQ_D)
    ).alias("d2")
    enc = (
        sub.join(F.broadcast(cw), F.col("m") == F.col("cm"))
        .select("vec_id", "m", d2, "code")
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "code")).alias("s"))
        .select("vec_id", "m", F.col("s.code").alias("code"))
    )
    lut = (
        sub_small.filter(F.col("vec_id") < _PQ_NQ)
        .join(F.broadcast(cw), F.col("m") == F.col("cm"))
        .select(F.col("vec_id").alias("query_id"), "m", "code", d2)
    )
    return (
        enc.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc_d2"))
    )


@query(
    "q_ann_pq",
    oracle=_PQ_ORACLE,
    tags=("similarity", "ann", "pq", "product-quantization"),
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 64-dim vectors split into 8 subspaces
    of 8 dims; each subvector is ENCODED as the id of its nearest of
    16 codewords (codebook = subvectors of the first 16 corpus
    vectors — the sampled-codebook baseline; a learned codebook would
    Lloyd-iterate per subspace exactly as clustering.py does). Queries
    score candidates with ASYMMETRIC DISTANCE (ADC): a per-query
    8x16 lookup table of exact subspace distances, summed along each
    candidate's 8 codes — the memory-bound trick that makes
    billion-scale search feasible (Jegou et al., TPAMI'11: the corpus
    shrinks from 64 floats to 8 bytes per vector).

    Every distance runs on the scaled-int grid (qint above), so
    encode argmin, ADC sums, and the final ranking are EXACT integer
    arithmetic with int tie-breaks — unlike q_ann_ivf there is no
    float near-tie surface at all; the full ranked output is hashed.

    Plan/scale shape: codebook (128 rows) and LUT (|Q| x 128) are
    broadcast; encode is a broadcast join + one (vec, subspace) argmin
    aggregate — the only O(n) shuffles are that aggregate and the
    final per-query ADC aggregate, both map-side-combined. Candidate
    rows never carry embeddings, only 8 small ints.

    Honesty note (same caveat as q_ann_ivf): on this ISOTROPIC
    synthetic corpus, ADC-rank-5 recall vs the exact top-5 is ~0.16
    at both shipped SFs — concentration of measure leaves almost no
    spread between true distances for 8-byte codes to preserve. Real
    clustered embeddings fare far better; and production PQ never
    stops at ADC rank anyway — see q_ann_pq_rerank for the
    shortlist+exact-rerank composition (recall 0.78-0.88 here). The
    hashed surface is exact regardless of recall."""
    scored = _pq_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", "adc_d2", "rank")
    )


@query(
    "q_ann_pq_rerank",
    oracle=_PQ_RERANK_ORACLE,
    tags=("similarity", "ann", "pq", "rerank"),
)
def q_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ pipeline: ADC shortlist (top-100 approximate
    distances per query, computed from 8-byte codes — the cheap scan)
    then EXACT rerank of only the shortlist (full 64-dim scaled-int
    squared L2 — the expensive math, now on 100 rows per query
    instead of the corpus). Measured capture of the true top-5 inside
    the shortlist: 0.88 at sf0.01 (R/n = 20%), 0.78 at sf0.1 (R/n =
    5%) on the isotropic corpus — and rerank is exact, so that IS the
    recall (tests/test_similarity_recall.py pins a floor).

    Fully hash-checked: both stages are integer arithmetic with
    integer tie-breaks, so shortlist membership, rerank distances,
    and ranks are engine-identical — the first ANN scale path in the
    registry whose APPROXIMATE stage is exactly oracle-replayed
    end-to-end at full output fidelity.

    Scale: the rerank join fetches neighbor embeddings by vec_id
    (equi-join, O(|Q| x R) rows) and broadcasts the query batch —
    candidate embeddings move once; nothing is all-pairs."""
    e = load_table(spark, sf_dir, "embeddings")
    scored = _pq_scored(spark, sf_dir)
    w_s = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    short = (
        scored.withColumn("rn", F.row_number().over(w_s))
        .filter(F.col("rn") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    qe = e.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    exact = (
        short.join(e, short["neighbor_id"] == e["vec_id"])
        .join(F.broadcast(qe), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _d2_int(F.col("q_emb"), F.col("embedding")).alias("d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", "d2", "rank")
    )


# ---- Signed-random-projection (SRP) LSH ANN ------------------------
# The LSH-bucketed counterpart to the IVF and PQ scale paths: H
# pseudo-random hyperplanes (components derived from md5 hex digits —
# engine-portable, no RNG), each vector's H sign bits form a signature,
# the signature splits into 2 bands of 8 bits, and candidates are
# corpus vectors sharing EITHER band with the query (banded OR = the
# standard LSH recall amplification). Everything is integer arithmetic.
_SRP_H = 16  # hyperplanes (signature bits)
_SRP_NBANDS = 4  # bands per signature
_SRP_BITS = 4  # bits per band: more bands x fewer bits => higher recall
_SRP_NQ = 10
_SRP_TOPK = 5


def _srp_hexval(md5_expr: str) -> str:
    from .llm_pipeline import _hex_val_sql

    return f"({_hex_val_sql(md5_expr, 4)}) - 32768"


def srp_signatures(
    spark: SparkSession, e: DataFrame, n_planes: int = _SRP_H
) -> DataFrame:
    """(vec_id, sg): the n_planes-bit SRP sign signature per vector
    (default 16), computed RELATIONALLY — posexplode each vector to
    (vec_id, d, qd) rows, broadcast-join the n_planes x 64 md5-derived
    hyperplane table, and fold the sign bits through two hash
    aggregates. Shared by q_ann_srp (16 planes) and q_semdedup (32:
    the low 16 bits are THE SAME hyperplanes/bands as the 16-plane
    callers — extending n_planes never changes existing bits — and
    the high 16 drive the oversized-bucket refinement); the oracle
    replays the identical derivation in SQL.

    Why relational and not a map-side expression (measured, round 4):
    the obvious "optimization" — inline the 16x64 hyperplane constants
    as array literals and compute all 16 dots in one projection — was
    built and benchmarked, and LOST on both fronts. (1) Spark's
    higher-order functions (zip_with/aggregate) are CodegenFallback
    expressions, so a 16-HOF projection runs INTERPRETED per row —
    the whole-stage-codegen'd explode+hashagg pipeline here does the
    same multiply-adds JVM-compiled. (2) The 1024-literal expression
    tree gets duplicated into every downstream branch (the band
    self-join has two) and Catalyst re-optimizes each copy: q_semdedup
    went 3.8s -> 6.3s warm at sf0.01, and even with an eager
    localCheckpoint to cut the tree out of downstream planning the
    candidate stage alone measured 4.2s vs 3.8s for this form
    end-to-end. The two shuffles this pipeline pays move O(n*64)
    16-byte rows with map-side partial aggregation — at 100 TB that is
    bounded, linear, and spill-safe, while an interpreted per-row
    16-lambda projection is a constant-factor tax on every vector."""
    hp = (
        spark.range(n_planes * 64)
        .select(
            (F.col("id") / 64).cast("long").alias("j"),
            (F.col("id") % 64).alias("d"),
        )
        .select(
            "j",
            "d",
            F.expr(
                _srp_hexval("md5(concat(cast(j as string), '_', cast(d as string)))")
            ).alias("c"),
        )
    )
    pos = e.select("vec_id", F.posexplode("embedding").alias("d", "val")).select(
        "vec_id", "d", qint(F.col("val")).alias("qd")
    )
    dots = (
        pos.join(F.broadcast(hp), "d")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("c") * F.col("qd")).alias("dot"))
    )
    return dots.groupBy("vec_id").agg(
        F.sum(
            F.when(
                F.col("dot") > 0,
                F.expr("shiftleft(cast(1 as bigint), cast(j as int))"),
            ).otherwise(F.lit(0))
        ).alias("sg")
    )


def srp_bands(sig_df):
    """(vec_id, k, bv) band rows from a (vec_id, sg) signature frame —
    the O(n*bands) explode that feeds the LSH bucket equi-join."""
    return sig_df.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_SRP_NBANDS - 1))).alias("k"),
        "sg",
    ).select(
        "vec_id",
        "k",
        (
            F.expr(f"sg div shiftleft(cast(1 as bigint), cast({_SRP_BITS} * k as int))")
            % (1 << _SRP_BITS)
        ).alias("bv"),
    )


_SRP_ORACLE = f"""
    WITH hp AS (
      SELECT j, d,
             {_srp_hexval("md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR))")} AS c
      FROM range(0, {_SRP_H}) t(j), range(0, 64) u(d)
    ),
    pos AS (
      SELECT vec_id, d, {_QI.format(x="embedding[d + 1]")} AS qd
      FROM embeddings, range(0, 64) u(d)
    ),
    dots AS (
      SELECT vec_id, j, CAST(SUM(c * qd) AS BIGINT) AS dot
      FROM pos JOIN hp USING (d) GROUP BY 1, 2
    ),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot > 0
                           THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                           ELSE 0 END) AS BIGINT) AS sg
      FROM dots GROUP BY 1
    ),
    bands AS (
      SELECT vec_id, k,
             (sg // (CAST(1 AS BIGINT) << CAST({_SRP_BITS} * k AS INTEGER)))
               % {1 << _SRP_BITS} AS bv
      FROM sig, range(0, {_SRP_NBANDS}) r(k)
    ),
    q AS (SELECT vec_id AS query_id, k, bv FROM bands WHERE vec_id < {_SRP_NQ}),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
      FROM q JOIN bands c ON q.k = c.k AND q.bv = c.bv
      WHERE c.vec_id <> q.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             CAST({_DOT_SQL.format(a="qq.embedding", b="nn.embedding")} AS DOUBLE)
               / (sqrt(CAST({_NORM2_SQL.format(a="qq.embedding")} AS DOUBLE))
                  * sqrt(CAST({_NORM2_SQL.format(a="nn.embedding")} AS DOUBLE)))
               AS cosine
      FROM cand
      JOIN embeddings qq ON qq.vec_id = cand.query_id
      JOIN embeddings nn ON nn.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, rank,
           CAST(FLOOR(cosine * 10000) AS BIGINT) AS cos_x10000
    FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_SRP_TOPK}
    """


@query(
    "q_ann_srp",
    oracle=_SRP_ORACLE,
    tags=("similarity", "ann", "lsh", "srp", "random-projection"),
)
def q_ann_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN via signed random projections (Charikar'02
    SimHash for real vectors): 16 md5-derived hyperplanes give each
    vector a 16-bit sign signature; 4 bands of 4 bits bucket the corpus
    and a query's candidates are vectors sharing any band; exact
    scaled-int cosine reranks candidates to top-5. Completes the ANN
    family: IVF (cells), PQ (codes), SRP-LSH (hyperplane buckets).

    Determinism: hyperplane components are md5-hex-digit integers (the
    engine-portable pseudo-randomness used across the repo — no RNG
    state), projections are exact int sums, sign bits and band splits
    integer ops, and rerank cosines are identical IEEE doubles from
    exact ints — the full ranked output is hashed.

    Plan shape: signatures come from the shared srp_signatures
    pipeline (posexplode + broadcast hyperplane join + two hash
    aggregates — codegen'd; see its docstring for why the map-side
    literal form measured SLOWER and was rejected in round 4);
    candidate generation explodes each signature to (band, value)
    rows and runs ONE equi-join (never an OR nested-loop) + distinct;
    rerank is an equi-join fetch of candidate embeddings. At 100 TB:
    band tables are the only shuffles at O(n); banding count and
    width trade recall vs candidate volume exactly as the MinHash-LSH
    text path (operators/neardup.py) documents.

    Honesty (isotropic corpus, same caveat as IVF/PQ): 16 random bits
    over isotropic vectors bucket near-uniformly, so recall vs the
    exact top-5 tracks the candidate fraction; the measured value and
    floor live in tests/test_similarity_recall.py. On real clustered
    embeddings SRP recall concentrates sharply."""
    e = load_table(spark, sf_dir, "embeddings")
    bands = srp_bands(srp_signatures(spark, e))
    q = bands.filter(F.col("vec_id") < _SRP_NQ).select(
        F.col("vec_id").alias("query_id"), "k", "bv"
    )
    cand = (
        bands.join(F.broadcast(q), ["k", "bv"])
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .distinct()
    )
    qe = e.filter(F.col("vec_id") < _SRP_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    norm2 = lambda col: F.aggregate(
        F.transform(col, lambda x: qint(x) * qint(x)),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    scored = (
        cand.join(e, cand["neighbor_id"] == e["vec_id"])
        .join(F.broadcast(qe), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_int(F.col("q_emb"), F.col("embedding")).cast("double")
                / (
                    F.sqrt(norm2(F.col("q_emb")).cast("double"))
                    * F.sqrt(norm2(F.col("embedding")).cast("double"))
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _SRP_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.floor(F.col("cosine") * 10000).cast("long").alias("cos_x10000"),
        )
    )


_SEMDEDUP_TAU = 0.45  # sparse-regime threshold: on this isotropic corpus the
# random-cosine tail grows ~quadratically with corpus size, and 0.35
# percolated at sf0.1 (mean degree ~5, giant component, 84% removed);
# 0.45 (~3.6 sigma) keeps the duplicate graph sparse at every shipped SF
_SEMDEDUP_SPLIT = 256  # band buckets above this size re-key on 4 extra
# signature bits (the 32-plane signature's high half) — bounds the
# O(bucket^2) verify stage; buckets at/below it keep the exact
# unrefined key, so small-SF outputs are bit-identical to pre-split.
# Round 6 (VERDICT r5 "What's wrong" #4): refinement is now DEPTH-2 —
# a refined bucket STILL larger than the split re-keys once more on
# the NEXT band's refinement nibble (rv of band (k+1) mod 4, an
# independent 4 bits of the same 32-plane signature), a further
# 16-way split. A pathological ~100k-row bucket that the single level
# left at ~6k rows (~18M pairs) now bounds at ~400 rows per leaf.
# Buckets that survive BOTH levels share all 12 keying bits per band;
# past depth 2 the residual is dominated by identical-signature mass
# (true duplication the verify stage must examine pair-by-pair anyway
# — no re-keying on signature bits can separate identical signatures).
# Both levels are conditional, so at/below the threshold the keying —
# and therefore every shipped-SF output — is bit-identical to the
# unrefined form (the semdedup tests in tests/test_similarity_fast.py
# plant a mega-bucket and assert the split ladder + the small-bucket
# identity).


def semdedup_keyed(bands):
    """Conditional depth-2 re-keying of SRP band buckets.

    Input: (vec_id, k, bv, rv, rv2) — primary band value plus this
    band's and the next band's refinement nibbles. Output adds
    (rk, rk2): rk = rv where the (k, bv) bucket exceeds
    _SEMDEDUP_SPLIT else -1; rk2 = rv2 where the REFINED (k, bv, rk)
    bucket still exceeds it else -1. Window counts are exact and
    deterministic, so both engines key identically. Factored out of
    q_semdedup so the planted-mega-bucket test can drive it with
    crafted signatures."""
    lvl1 = bands.select(
        "vec_id",
        "k",
        "bv",
        F.when(
            F.count(F.lit(1)).over(Window.partitionBy("k", "bv"))
            > _SEMDEDUP_SPLIT,
            F.col("rv"),
        )
        .otherwise(F.lit(-1))
        .alias("rk"),
        "rv2",
    )
    return lvl1.select(
        "vec_id",
        "k",
        "bv",
        "rk",
        F.when(
            F.count(F.lit(1)).over(Window.partitionBy("k", "bv", "rk"))
            > _SEMDEDUP_SPLIT,
            F.col("rv2"),
        )
        .otherwise(F.lit(-1))
        .alias("rk2"),
    )


@query(
    "q_semdedup",
    oracle=f"""
    WITH hp AS (
      SELECT j, d,
             {_srp_hexval("md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR))")} AS c
      FROM range(0, {2 * _SRP_H}) t(j), range(0, 64) u(d)
    ),
    pos AS (
      SELECT vec_id, d, {_QI.format(x="embedding[d + 1]")} AS qd
      FROM embeddings, range(0, 64) u(d)
    ),
    dots AS (
      SELECT vec_id, j, CAST(SUM(c * qd) AS BIGINT) AS dot
      FROM pos JOIN hp USING (d) GROUP BY 1, 2
    ),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot > 0
                           THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                           ELSE 0 END) AS BIGINT) AS sg
      FROM dots GROUP BY 1
    ),
    bands AS (
      SELECT vec_id, k,
             (sg // (CAST(1 AS BIGINT) << CAST({_SRP_BITS} * k AS INTEGER)))
               % {1 << _SRP_BITS} AS bv,
             (sg // (CAST(1 AS BIGINT)
                     << CAST({_SRP_H} + {_SRP_BITS} * k AS INTEGER)))
               % {1 << _SRP_BITS} AS rv,
             (sg // (CAST(1 AS BIGINT)
                     << CAST({_SRP_H} + {_SRP_BITS}
                             * ((k + 1) % {_SRP_NBANDS}) AS INTEGER)))
               % {1 << _SRP_BITS} AS rv2
      FROM sig, range(0, {_SRP_NBANDS}) r(k)
    ),
    keyed1 AS (
      SELECT vec_id, k, bv,
             CASE WHEN COUNT(*) OVER (PARTITION BY k, bv) > {_SEMDEDUP_SPLIT}
                  THEN rv ELSE -1 END AS rk,
             rv2
      FROM bands
    ),
    keyed AS (
      SELECT vec_id, k, bv, rk,
             CASE WHEN COUNT(*) OVER (PARTITION BY k, bv, rk)
                       > {_SEMDEDUP_SPLIT}
                  THEN rv2 ELSE -1 END AS rk2
      FROM keyed1
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
      FROM keyed a JOIN keyed b
        ON a.k = b.k AND a.bv = b.bv AND a.rk = b.rk AND a.rk2 = b.rk2
      WHERE a.vec_id < b.vec_id
    ),
    e AS (
      SELECT cand.src, cand.dst
      FROM cand
      JOIN embeddings va ON va.vec_id = cand.src
      JOIN embeddings vb ON vb.vec_id = cand.dst
      WHERE CAST({_DOT_SQL.format(a="va.embedding", b="vb.embedding")} AS DOUBLE)
            / (sqrt(CAST({_NORM2_SQL.format(a="va.embedding")} AS DOUBLE))
               * sqrt(CAST({_NORM2_SQL.format(a="vb.embedding")} AS DOUBLE)))
            >= {_SEMDEDUP_TAU}
    ),
    sym AS (
      SELECT src, dst FROM e
      UNION
      SELECT dst, src FROM e
      UNION
      SELECT vec_id, vec_id FROM embeddings
    ),
    reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, s.dst FROM r JOIN sym s ON s.src = r.dst
      ) SELECT * FROM r
    ),
    comp AS (
      SELECT src AS vec_id, CAST(MIN(dst) AS BIGINT) AS component
      FROM reach GROUP BY src
    )
    SELECT vec_id, component,
           vec_id = component AS kept,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS comp_size
    FROM comp
    """,
    tags=("similarity", "semdedup", "dedup", "lsh", "llm-pipeline"),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): SEMANTIC deduplication of an
    embedding corpus — bucket vectors, verify high-cosine pairs inside
    buckets only, grow transitive duplicate groups, keep one
    representative per group. Blocking here is the md5-derived SRP
    signature (engine-replayable, unlike a learned k-means codebook —
    q_ann_ivf_kmeans shows that variant on a recall contract); the
    paper's k-means blocking swaps in at the bucketer with the rest of
    the pipeline unchanged.

    Determinism: signatures/bands are exact integer ops; the verify
    cosine divides exact int64 sums (identical IEEE doubles both
    engines, same expression tree); components are min-id labels (CC);
    kept = "is the component representative". Every vector emits a
    row, so the operator stays non-vacuous even where a scale factor
    has no qualifying pair.

    Scale: signatures come from the shared srp_signatures pipeline
    (codegen'd relational form — measured faster than the map-side
    literal alternative, see its docstring); band self-join
    confines the quadratic verify to bucket interiors (O(sum of
    bucket^2), never corpus^2); components use STAR CONTRACTION
    (O(log^2 n) rounds independent of diameter) — the round-5 growth
    sweep's synthetic tiles produced a >20-hop chain-shaped dup graph
    that min-label propagation could not finish, which is why star
    contraction is the engine's only CC routine. This is the 100 TB
    semantic-dedup recipe: embed once, bucket, verify inside buckets,
    cluster, keep representatives."""
    from .graph import connected_components

    # r8: fan_out — the posexplode+quantize signature stage and the
    # verify-side dot products are per-row heavy on a one-task scan
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    # 32-plane signature: low 16 bits = the same 4x4 primary bands as
    # always; high 16 bits refine ONLY buckets larger than
    # _SEMDEDUP_SPLIT — depth-2 since round 6: own band's nibble
    # first, the NEXT band's nibble for buckets the first split still
    # leaves oversized (see semdedup_keyed). Fixed-width banding is
    # O(sum bucket^2) in the verify stage — the round-5 10x sweep
    # measured 52M candidate pairs (100x the 1x count) before this
    # split and a bounded count after; below the split threshold the
    # keying is bit-identical to the unrefined form, so small-SF
    # results (driver gate, bench) are unchanged.
    # Checkpoint the keyed band table once: the self-join reads it from
    # BOTH arms, and with CC materializing mid-construction there is no
    # whole-plan optimizer pass to reuse the signature exchange — the
    # posexplode + hyperplane-join + two-aggregate signature pipeline
    # would run twice (round-5 measurement: ~1.4 s of the warm wall)
    sig = srp_signatures(spark, e, n_planes=2 * _SRP_H)
    bands = sig.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_SRP_NBANDS - 1))).alias("k"),
        "sg",
    ).select(
        "vec_id",
        "k",
        (
            F.expr(f"sg div shiftleft(cast(1 as bigint), cast({_SRP_BITS} * k as int))")
            % (1 << _SRP_BITS)
        ).alias("bv"),
        (
            F.expr(
                f"sg div shiftleft(cast(1 as bigint),"
                f" cast({_SRP_H} + {_SRP_BITS} * k as int))"
            )
            % (1 << _SRP_BITS)
        ).alias("rv"),
        (
            F.expr(
                f"sg div shiftleft(cast(1 as bigint),"
                f" cast({_SRP_H} + {_SRP_BITS} * ((k + 1) % {_SRP_NBANDS}) as int))"
            )
            % (1 << _SRP_BITS)
        ).alias("rv2"),
    )
    keyed = semdedup_keyed(bands).localCheckpoint(eager=False)
    a = keyed.select(F.col("vec_id").alias("src"), "k", "bv", "rk", "rk2")
    b = keyed.select(F.col("vec_id").alias("dst"), "k", "bv", "rk", "rk2")
    cand = (
        a.join(b, ["k", "bv", "rk", "rk2"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    qe = e.select(
        "vec_id",
        F.transform("embedding", qint).alias("q"),
        dot_int(F.col("embedding"), F.col("embedding")).alias("n2"),
    )
    va = qe.select(F.col("vec_id").alias("src"), F.col("q").alias("qa"), F.col("n2").alias("n2a"))
    vb = qe.select(F.col("vec_id").alias("dst"), F.col("q").alias("qb"), F.col("n2").alias("n2b"))
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y), F.lit(0).cast("long"), lambda s, x: s + x
    )
    edges = (
        cand.join(va, "src")
        .join(vb, "dst")
        .filter(
            dot.cast("double")
            / (F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double")))
            >= F.lit(_SEMDEDUP_TAU)
        )
        .select("src", "dst")
    )
    comp = connected_components(edges, e.select(F.col("vec_id").alias("id")))
    return comp.select(
        F.col("id").alias("vec_id"),
        "component",
        (F.col("id") == F.col("component")).alias("kept"),
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .alias("comp_size"),
    )


# --- Matryoshka truncation ablation ----------------------------------

_MRL_DIMS = 16   # truncated prefix width (of 64)
_MRL_K = 10      # recall@k
_MRL_NQ = 10     # query batch: vec_id < 10


def _mrl_dot_sql(a: str, b: str, dims: int) -> str:
    """Scaled-integer dot product over the first `dims` entries —
    _DOT_SQL hardcodes range(1, 65); the truncated arm indexes past a
    16-element slice and NULLs out without this."""
    return (
        f"list_reduce(list_transform(range(1, {dims + 1}), i -> "
        + _QI.format(x=f"{a}[i]")
        + " * "
        + _QI.format(x=f"{b}[i]")
        + "), (s, x) -> s + x)"
    )


def _mrl_topk_sql(emb: str, dims: int, k: int) -> str:
    """DuckDB top-k ranking subquery over a given embedding slice
    expression (full or truncated), shared by both arms."""
    return f"""
      SELECT query_id, neighbor_id, rn FROM (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(CAST({_mrl_dot_sql(f"q.{emb}", f"v.{emb}", dims)} AS DOUBLE)
                       / (sqrt(CAST({_NORM2_SQL.format(a=f"q.{emb}")} AS DOUBLE))
                          * sqrt(CAST({_NORM2_SQL.format(a=f"v.{emb}")} AS DOUBLE))), 6)
                   DESC, v.vec_id) AS rn
        FROM mrl_v q JOIN mrl_v v ON v.vec_id <> q.vec_id
        WHERE q.vec_id < {_MRL_NQ})
      WHERE rn <= {k}
    """


@query(
    "q_mrl_truncation_recall",
    oracle=f"""
    WITH mrl_v AS (
      SELECT vec_id, embedding,
             list_slice(embedding, 1, {_MRL_DIMS}) AS trunc
      FROM embeddings
    ),
    full_k AS ({_mrl_topk_sql("embedding", 64, _MRL_K)}),
    trunc_k AS ({_mrl_topk_sql("trunc", _MRL_DIMS, _MRL_K)})
    SELECT f.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_overlap,
           CAST({_MRL_K} AS BIGINT) AS k,
           CAST(1000000 * COUNT(t.neighbor_id) // {_MRL_K} AS BIGINT)
             AS recall_ppm
    FROM full_k f
    LEFT JOIN trunc_k t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
    tags=("similarity", "mrl", "ablation", "llm-pipeline"),
)
def q_mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation ablation (Kusupati et al. 2022):
    recall@10 of cosine ranking using only the first 16 of 64
    embedding dims against the full-dim ranking, per query — the
    measurement behind "can we store/search the short prefix and
    rerank with the full vector later".

    Both arms use the scaled-integer dot products and ROUNDED cosine
    + vec_id tie-break of q_cosine_topk, so the two rankings (and
    hence the overlap counts) are bit-identical across engines.

    Plan: the query batch broadcasts against the corpus once with
    BOTH the full and truncated products computed in the same
    projection — one scoring pass, two per-query top-k windows over
    the same (query_id) partitioning, one overlap join on
    (query, neighbor). At 100 TB the corpus side streams exactly as
    in q_cosine_topk; truncation costs nothing extra."""
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.slice("embedding", 1, _MRL_DIMS).alias("trunc"),
    )
    v = v.select(
        "vec_id",
        "embedding",
        "trunc",
        dot_int(F.col("embedding"), F.col("embedding")).alias("n2_full"),
        dot_int(F.col("trunc"), F.col("trunc")).alias("n2_trunc"),
    )
    q = v.filter(F.col("vec_id") < _MRL_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_full"),
        F.col("trunc").alias("q_trunc"),
        F.col("n2_full").alias("qn2_full"),
        F.col("n2_trunc").alias("qn2_trunc"),
    )
    scored = (
        F.broadcast(q)
        .join(v, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_expr(
                    dot_int(F.col("q_full"), F.col("embedding")),
                    F.col("qn2_full"),
                    F.col("n2_full"),
                ),
                6,
            ).alias("cos_full"),
            F.round(
                cosine_expr(
                    dot_int(F.col("q_trunc"), F.col("trunc")),
                    F.col("qn2_trunc"),
                    F.col("n2_trunc"),
                ),
                6,
            ).alias("cos_trunc"),
        )
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("cos_full"), "neighbor_id"
    )
    w_trunc = Window.partitionBy("query_id").orderBy(
        F.desc("cos_trunc"), "neighbor_id"
    )
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(w_full).alias("rn_full"),
        F.row_number().over(w_trunc).alias("rn_trunc"),
    )
    full_k = ranked.filter(F.col("rn_full") <= _MRL_K).select(
        "query_id", "neighbor_id"
    )
    trunc_k = ranked.filter(F.col("rn_trunc") <= _MRL_K).select(
        F.col("query_id").alias("t_query"),
        F.col("neighbor_id").alias("t_neighbor"),
    )
    return (
        full_k.join(
            trunc_k,
            (F.col("query_id") == F.col("t_query"))
            & (F.col("neighbor_id") == F.col("t_neighbor")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("t_neighbor").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            F.lit(_MRL_K).cast("long").alias("k"),
            F.expr(f"CAST(1000000 * n_overlap div {_MRL_K} AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
    )


@query(
    "q_knn_graph",
    oracle=f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, label, embedding,
             {_NORM2_SQL.format(a="embedding")} AS norm2
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS src, b.vec_id AS dst, a.label AS label,
             ROUND(CAST({_DOT_SQL.format(a="a.embedding", b="b.embedding")}
                        AS DOUBLE)
                   / (sqrt(CAST(a.norm2 AS DOUBLE))
                      * sqrt(CAST(b.norm2 AS DOUBLE))), 6) AS cosine
      FROM v a JOIN v b ON b.label = a.label AND b.vec_id <> a.vec_id
    ),
    knn AS MATERIALIZED (
      SELECT * FROM (
        SELECT src, dst, label, cosine,
               CAST(row_number() OVER (PARTITION BY src
                     ORDER BY cosine DESC, dst) AS BIGINT) AS rank
        FROM scored
      ) WHERE rank <= 3
    )
    SELECT k.src, k.dst, k.label, k.rank, k.cosine,
           r.src IS NOT NULL AS mutual
    FROM knn k
    LEFT JOIN knn r ON r.src = k.dst AND r.dst = k.src
    """,
    tags=("similarity", "knn-graph", "embedding", "llm-pipeline"),
)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction (k = 3) over the embedding corpus,
    label-blocked, with the mutual-kNN flag — the substrate SemDeDup-
    style clustering, manifold estimation, and outlier pruning all
    start from. Scoring is the exact scaled-int dot/norm machinery
    (similarity.qint), ranked on the 6-dp-rounded cosine with dst
    tie-break so both engines produce the identical edge list;
    mutuality is one self-join of the kNN edges on the reversed pair.

    Scale: candidates are BLOCKED (label cells here; IVF cells or LSH
    buckets for unlabeled corpora — q_ann_ivf shows the swap), so the
    score fan-out is sum of block sizes squared, never corpus^2; the
    top-k window partitions by src inside each block, and the mutual
    join is keyed on the edge pair."""
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        dot_int(F.col("embedding"), F.col("embedding")).alias("norm2"),
    )
    a, b = v.alias("a"), v.alias("b")
    scored = a.join(
        b,
        (F.col("b.label") == F.col("a.label"))
        & (F.col("b.vec_id") != F.col("a.vec_id")),
    ).select(
        F.col("a.vec_id").alias("src"),
        F.col("b.vec_id").alias("dst"),
        F.col("a.label").alias("label"),
        F.round(
            cosine_expr(
                dot_int(F.col("a.embedding"), F.col("b.embedding")),
                F.col("a.norm2"),
                F.col("b.norm2"),
            ),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    knn = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .localCheckpoint()  # feeds both sides of the mutuality join
    )
    r = knn.select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    rdf = r.withColumn("is_mutual", F.lit(True))
    return (
        knn.join(
            rdf.select("src", "dst", "is_mutual"), ["src", "dst"], "left"
        )
        .select(
            "src",
            "dst",
            "label",
            "rank",
            "cosine",
            F.coalesce(F.col("is_mutual"), F.lit(False)).alias("mutual"),
        )
    )


_RC_PROBES = (1, 2, 4, 8)
_RC_NQ = 10
_RC_K = 5


@query(
    "q_ann_recall_curve",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> {_QI.format(x="x")}) AS qv
      FROM embeddings WHERE vec_id < {_RC_NQ}
    ),
    cpos AS (
      SELECT label, d,
             CAST(SUM({_QI.format(x="embedding[d + 1]")}) AS BIGINT) AS s
      FROM embeddings, range(0, 64) u(d)
      GROUP BY label, d
    ),
    cent AS (
      SELECT label, list(s ORDER BY d) AS cv FROM cpos GROUP BY label
    ),
    qc AS (
      SELECT q.query_id, q.qv, c.label,
             CAST(list_reduce(list_transform(range(1, 65),
                    i -> q.qv[i] * c.cv[i]), (s, x) -> s + x) AS DOUBLE)
             / (sqrt(CAST(list_reduce(list_transform(q.qv, x -> x * x),
                          (s, x) -> s + x) AS DOUBLE))
                * sqrt(CAST(list_reduce(list_transform(c.cv, x -> x * x),
                            (s, x) -> s + x) AS DOUBLE))) AS cell_cos
      FROM q CROSS JOIN cent c
    ),
    qcr AS (
      SELECT query_id, qv, label,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cell_cos DESC, label) AS cell_rank
      FROM qc
    ),
    vc AS (
      SELECT r.query_id, r.cell_rank, e.vec_id,
             CAST(list_reduce(list_transform(range(1, 65),
                    i -> r.qv[i] * {_QI.format(x="e.embedding[i]")}),
                    (s, x) -> s + x) AS DOUBLE)
             / (sqrt(CAST(list_reduce(list_transform(r.qv, x -> x * x),
                          (s, x) -> s + x) AS DOUBLE))
                * sqrt(CAST({_NORM2_SQL.format(a="e.embedding")} AS DOUBLE)))
               AS cosine
      FROM qcr r JOIN embeddings e ON e.label = r.label
      WHERE e.vec_id <> r.query_id
    ),
    exact5 AS (
      SELECT query_id, vec_id
      FROM (SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id) AS rk
            FROM vc)
      WHERE rk <= {_RC_K}
    ),
    grid AS (SELECT * FROM (VALUES (1), (2), (4), (8)) t(nprobe)),
    cand AS (
      SELECT g.nprobe, v.query_id, v.vec_id, v.cosine
      FROM grid g JOIN vc v ON v.cell_rank <= g.nprobe
    ),
    ivf5 AS (
      SELECT nprobe, query_id, vec_id
      FROM (SELECT nprobe, query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                                      ORDER BY cosine DESC, vec_id) AS rk
            FROM cand)
      WHERE rk <= {_RC_K}
    )
    SELECT g.nprobe,
           CAST((SELECT COUNT(*) FROM ivf5 i JOIN exact5 x
                 ON x.query_id = i.query_id AND x.vec_id = i.vec_id
                 WHERE i.nprobe = g.nprobe) AS BIGINT) AS hits,
           CAST((100 * (SELECT COUNT(*) FROM ivf5 i JOIN exact5 x
                        ON x.query_id = i.query_id AND x.vec_id = i.vec_id
                        WHERE i.nprobe = g.nprobe))
                // {_RC_NQ * _RC_K} AS BIGINT) AS recall_x100,
           CAST((SELECT COUNT(*) FROM cand c WHERE c.nprobe = g.nprobe)
                AS BIGINT) AS candidates_scanned
    FROM grid g
    """,
    tags=("similarity", "ann", "ivf", "recall-curve", "llm-pipeline"),
)
def q_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN recall/cost DIAL, measured in one query: IVF recall@5
    against the exact top-5 at nprobe = 1/2/4/8 of the 10 label cells,
    with the candidate-scan cost alongside — the table an engineer
    actually reads before picking a probe count. Every per-(query,
    vector) cosine and cell rank is computed ONCE; the probe grid then
    only filters by precomputed cell rank, so the 4-point curve costs
    one scoring pass, not four. Cell DIRECTIONS are integer sum-
    vectors of the quantized embeddings (the count divides out of
    cosine), so every ranking input is exact-int-derived and the
    doubles agree bit-for-bit across engines (same expression tree).

    Isotropic-corpus honesty (q_ann_ivf's note applies): recall here
    tracks roughly the probed fraction because the synthetic
    embeddings have no cluster structure; on real embeddings the
    curve bends sharply upward at small nprobe — this operator is the
    instrument, the corpus is the floor.

    Scale: centroid sums are one map-side aggregate; the query batch
    broadcasts against the corpus (the q_cosine_topk exactness-
    baseline pattern — production swaps the full scan for the IVF
    cell join); windows run per (query, nprobe) on candidate rows."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _RC_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", qint).alias("qv"),
    )
    cpos = (
        e.select("label", F.posexplode("embedding").alias("d", "val"))
        .groupBy("label", "d")
        .agg(F.sum(qint(F.col("val"))).alias("s"))
    )
    cent = (
        cpos.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("d", "s"))).alias("ds"))
        .select("label", F.expr("transform(ds, x -> x.s)").alias("cv"))
    )
    intdot = (
        "CAST(aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (s, x) -> s + x) AS DOUBLE)"
    )
    norm2 = (
        "sqrt(CAST(aggregate(transform({a}, x -> x * x),"
        " CAST(0 AS BIGINT), (s, x) -> s + x) AS DOUBLE))"
    )
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "qv",
            "label",
            F.expr(
                intdot.format(a="qv", b="cv")
                + " / ("
                + norm2.format(a="qv")
                + " * "
                + norm2.format(a="cv")
                + ")"
            ).alias("cell_cos"),
        )
    )
    qcr = qc.select(
        "query_id",
        "qv",
        "label",
        F.row_number()
        .over(Window.partitionBy("query_id").orderBy(F.desc("cell_cos"), "label"))
        .alias("cell_rank"),
    )
    ev = e.select("label", "vec_id", F.transform("embedding", qint).alias("vv"))
    vc = (
        qcr.join(ev, "label")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "cell_rank",
            "vec_id",
            F.expr(
                intdot.format(a="qv", b="vv")
                + " / ("
                + norm2.format(a="qv")
                + " * "
                + norm2.format(a="vv")
                + ")"
            ).alias("cosine"),
        )
        .localCheckpoint(eager=False)
    )
    exact5 = (
        vc.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
            ),
        )
        .filter(F.col("rk") <= _RC_K)
        .select("query_id", "vec_id")
    )
    grid = spark.createDataFrame([(p,) for p in _RC_PROBES], "nprobe int")
    cand = F.broadcast(grid).join(vc, F.col("cell_rank") <= F.col("nprobe"))
    ivf5 = (
        cand.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("nprobe", "query_id").orderBy(
                    F.desc("cosine"), "vec_id"
                )
            ),
        )
        .filter(F.col("rk") <= _RC_K)
        .select("nprobe", "query_id", "vec_id")
    )
    hits = (
        ivf5.join(exact5, ["query_id", "vec_id"])
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    cost = cand.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("candidates_scanned")
    )
    return (
        grid.join(hits, "nprobe", "left")
        .join(cost, "nprobe", "left")
        .select(
            "nprobe",
            F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
            F.expr(
                f"CAST((100 * COALESCE(hits, 0)) div {_RC_NQ * _RC_K}"
                " AS BIGINT)"
            ).alias("recall_x100"),
            F.coalesce("candidates_scanned", F.lit(0))
            .cast("bigint")
            .alias("candidates_scanned"),
        )
    )


# ---------------------------------------------------------------------
# q_embedding_outlier_prune (round 7)
# ---------------------------------------------------------------------

_EOP_BOTTOM_K = 5  # flag the 5 least-central vectors per label


@query(
    "q_embedding_outlier_prune",
    oracle=f"""
    WITH ei AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      FROM embeddings
    ),
    pos AS (
      SELECT vec_id, label, unnest(v) AS val,
             CAST(unnest(generate_series(1, len(v))) AS INTEGER) AS pos
      FROM ei
    ),
    cent AS (
      SELECT label, pos, CAST(SUM(val) AS BIGINT) AS sval
      FROM pos GROUP BY label, pos
    ),
    cnorm AS (
      SELECT label, CAST(SUM(sval * sval) AS BIGINT) AS ns2 FROM cent
      GROUP BY label
    ),
    dots AS (
      SELECT p.vec_id, p.label,
             CAST(SUM(p.val * c.sval) AS BIGINT) AS dot,
             CAST(SUM(p.val * p.val) AS BIGINT) AS nx2
      FROM pos p JOIN cent c ON c.label = p.label AND c.pos = p.pos
      GROUP BY p.vec_id, p.label
    ),
    cos AS (
      SELECT d.vec_id, d.label,
             CAST(ROUND(1000000000.0 * CAST(d.dot AS DOUBLE)
                        / sqrt(CAST(d.nx2 AS DOUBLE))
                        / sqrt(CAST(n.ns2 AS DOUBLE))) AS BIGINT)
               AS cos_nano
      FROM dots d JOIN cnorm n USING (label)
    )
    SELECT label, vec_id, cos_nano, CAST(rk AS BIGINT) AS outlier_rank
    FROM (
      SELECT label, vec_id, cos_nano,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY cos_nano, vec_id) AS rk
      FROM cos
    ) WHERE rk <= {_EOP_BOTTOM_K}
    """,
    tags=("similarity", "outlier", "curation", "llm-pipeline"),
)
def q_embedding_outlier_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier pruning: the {_EOP_BOTTOM_K} vectors per label
    FARTHEST from their label's centroid direction (lowest cosine to
    the per-label SUM vector — same direction as the mean, no division
    needed). The label-consistency curation pass that drops mislabeled
    or degenerate embeddings before contrastive training — the
    geometric sibling of q_confident_label_noise's token-profile test.

    Exactness: elements quantized to 1e-4 grid ints (the q_ann_ivf
    treatment); dot products and squared norms are exact BIGINTs; the
    cosine is one identical double expression (dot / sqrt(nx2) /
    sqrt(ns2)) over exactly-equal operands, quantized to nano-units.

    Scale: one (label, dim) centroid aggregate (map-side partials),
    a label+dim-keyed dot join — shuffle proportional to |vectors| x
    dims, never pairs — and a per-label bottom-k window (keyed,
    parallel across labels)."""
    e = load_table(spark, sf_dir, "embeddings")
    pos = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos0", "fval"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("fval").cast("double") * 10000).cast("long").alias("val"),
    )
    cent = pos.groupBy("label", "pos").agg(F.sum("val").alias("sval"))
    cnorm = cent.groupBy("label").agg(
        F.sum(F.col("sval") * F.col("sval")).alias("ns2")
    )
    dots = (
        pos.join(cent, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("val") * F.col("sval")).alias("dot"),
            F.sum(F.col("val") * F.col("val")).alias("nx2"),
        )
    )
    cos = dots.join(cnorm, "label").select(
        "vec_id",
        "label",
        F.round(
            F.lit(1_000_000_000.0)
            * F.col("dot").cast("double")
            / F.sqrt(F.col("nx2").cast("double"))
            / F.sqrt(F.col("ns2").cast("double"))
        )
        .cast("long")
        .alias("cos_nano"),
    )
    w = Window.partitionBy("label").orderBy("cos_nano", "vec_id")
    return (
        cos.withColumn("outlier_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("outlier_rank") <= _EOP_BOTTOM_K)
        .select("label", "vec_id", "cos_nano", "outlier_rank")
    )


# ---------------------------------------------------------------------
# q_mmr_diversify (round 7)
# ---------------------------------------------------------------------

_MMR_QUERY_ID = 0  # the query vector
_MMR_CAND = 8  # relevance candidates fed to the diversifier
_MMR_K = 4  # final diversified result size; lambda = 0.5


def _mmr_sql_round(prev_sel: str, cur: str) -> str:
    """One oracle MMR round: among unselected candidates, argmax of
    2*MMR = simq − max-sim-to-selected (lambda = 0.5 scaled by 2 stays
    integer), tie-break vec_id."""
    return f"""
    sel{cur} AS (
      SELECT c.vec_id, c.simq_nano, {cur} AS mmr_round
      FROM cand c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev_sel})
      ORDER BY c.simq_nano
        - (SELECT MAX(p.sim_nano) FROM pair p
           WHERE p.a = c.vec_id
             AND p.b IN (SELECT vec_id FROM {prev_sel})) DESC,
        c.vec_id
      LIMIT 1
    ),
    acc{cur} AS (
      SELECT vec_id, simq_nano, mmr_round FROM {prev_sel}
      UNION ALL SELECT vec_id, simq_nano, mmr_round FROM sel{cur}
    )
    """


def _mmr_oracle() -> str:
    rounds = "".join(
        "," + _mmr_sql_round(f"acc{i}", str(i + 1)) for i in range(1, _MMR_K)
    )
    return f"""
    WITH ei AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * {_Q}, 0) AS BIGINT)) AS v
      FROM embeddings
    ),
    q AS (SELECT v AS qv FROM ei WHERE vec_id = {_MMR_QUERY_ID}),
    scored AS (
      SELECT e.vec_id,
             CAST(ROUND(1000000000.0
                  * CAST(list_reduce(list_transform(range(1, 65),
                          i -> e.v[i] * q.qv[i]), (s, x) -> s + x) AS DOUBLE)
                  / sqrt(CAST(list_reduce(list_transform(range(1, 65),
                          i -> e.v[i] * e.v[i]), (s, x) -> s + x) AS DOUBLE))
                  / sqrt(CAST(list_reduce(list_transform(range(1, 65),
                          i -> q.qv[i] * q.qv[i]), (s, x) -> s + x) AS DOUBLE)))
               AS BIGINT) AS simq_nano
      FROM ei e, q WHERE e.vec_id <> {_MMR_QUERY_ID}
    ),
    cand AS (
      SELECT vec_id, simq_nano FROM scored
      ORDER BY simq_nano DESC, vec_id LIMIT {_MMR_CAND}
    ),
    pair AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             CAST(ROUND(1000000000.0
                  * CAST(list_reduce(list_transform(range(1, 65),
                          i -> ea.v[i] * eb.v[i]), (s, x) -> s + x) AS DOUBLE)
                  / sqrt(CAST(list_reduce(list_transform(range(1, 65),
                          i -> ea.v[i] * ea.v[i]), (s, x) -> s + x) AS DOUBLE))
                  / sqrt(CAST(list_reduce(list_transform(range(1, 65),
                          i -> eb.v[i] * eb.v[i]), (s, x) -> s + x) AS DOUBLE)))
               AS BIGINT) AS sim_nano
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
      JOIN ei ea ON ea.vec_id = a.vec_id
      JOIN ei eb ON eb.vec_id = b.vec_id
    ),
    acc1 AS (
      SELECT vec_id, simq_nano, 1 AS mmr_round FROM cand
      ORDER BY simq_nano DESC, vec_id LIMIT 1
    )
    {rounds}
    SELECT vec_id, CAST(simq_nano AS BIGINT) AS simq_nano,
           CAST(mmr_round AS BIGINT) AS mmr_round
    FROM acc{_MMR_K}
    """


@query(
    "q_mmr_diversify",
    oracle=_mmr_oracle(),
    tags=("similarity", "mmr", "diversification", "retrieval"),
)
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998)
    re-ranking: fetch the top-{_MMR_CAND} cosine candidates for one
    query vector, then greedily pick {_MMR_K} results maximizing
    λ·sim(q,d) − (1−λ)·max_{{s∈S}} sim(d,s) with λ = 0.5 — the
    diversification stage between ANN retrieval and the user, trading
    raw relevance against redundancy (three near-duplicates of the
    best hit waste two slots).

    Exactness: with λ = 0.5 the argmax of MMR equals the argmax of
    2·MMR = simq − max_sel — a PURE INTEGER comparison of nano-
    quantized cosines (each cosine one identical IEEE expression over
    exact integer dot products), so every selection round is exact and
    tie-broken on vec_id; no float accumulates across rounds.

    Scale: the candidate fetch is the q_cosine_topk pattern (broadcast
    query × corpus scan, TakeOrderedAndProject); everything after runs
    on a CONSTANT {_MMR_CAND}-row frame ({_MMR_CAND}² pair grid, {_MMR_K}
    unrolled selection rounds) — driver-side plan size, data-side
    nothing."""
    ei = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        dot_int(F.col("embedding"), F.col("embedding")).alias("norm2"),
    )
    q = ei.filter(F.col("vec_id") == _MMR_QUERY_ID).select(
        F.col("embedding").alias("q_emb"), F.col("norm2").alias("q_norm2")
    )
    scored = (
        ei.filter(F.col("vec_id") != _MMR_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            "norm2",
            F.round(
                F.lit(1_000_000_000.0)
                * cosine_expr(
                    dot_int(F.col("embedding"), F.col("q_emb")),
                    F.col("norm2"),
                    F.col("q_norm2"),
                )
            )
            .cast("long")
            .alias("simq_nano"),
        )
    )
    cand = (
        scored.orderBy(F.desc("simq_nano"), F.asc("vec_id"))
        .limit(_MMR_CAND)
        .localCheckpoint(eager=True)  # constant 8-row frame, reused per round
    )
    a = cand.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("ea"),
        F.col("norm2").alias("na"),
    )
    b = cand.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("eb"),
        F.col("norm2").alias("nb"),
    )
    pair = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                F.lit(1_000_000_000.0)
                * cosine_expr(
                    dot_int(F.col("ea"), F.col("eb")),
                    F.col("na"),
                    F.col("nb"),
                )
            )
            .cast("long")
            .alias("sim_nano"),
        )
        .localCheckpoint(eager=True)
    )
    cands = cand.select("vec_id", "simq_nano")
    selected = (
        cands.orderBy(F.desc("simq_nano"), F.asc("vec_id"))
        .limit(1)
        .select("vec_id", "simq_nano", F.lit(1).alias("mmr_round"))
    )
    for r in range(2, _MMR_K + 1):
        sel_ids = selected.select(F.col("vec_id").alias("b"))
        max_sel = (
            pair.join(F.broadcast(sel_ids), "b")
            .groupBy(F.col("a").alias("vec_id"))
            .agg(F.max("sim_nano").alias("max_sel"))
        )
        nxt = (
            cands.join(
                F.broadcast(selected.select("vec_id")), "vec_id", "left_anti"
            )
            .join(F.broadcast(max_sel), "vec_id")
            .orderBy(
                F.desc(F.col("simq_nano") - F.col("max_sel")), F.asc("vec_id")
            )
            .limit(1)
            .select("vec_id", "simq_nano", F.lit(r).alias("mmr_round"))
        )
        selected = selected.unionAll(nxt).localCheckpoint(eager=True)
    return selected.select(
        "vec_id",
        F.col("simq_nano").cast("long").alias("simq_nano"),
        F.col("mmr_round").cast("long").alias("mmr_round"),
    )


# ---------------------------------------------------------------------
# q_hard_negative_mining (round 8)
# ---------------------------------------------------------------------

_HNM_ANCHORS = 30  # anchor batch: vec_id < 30
_HNM_K = 3  # hard negatives kept per anchor


@query(
    "q_hard_negative_mining",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding,
             {_NORM2_SQL.format(a="embedding")} AS norm2
      FROM embeddings
    ), q AS (
      SELECT * FROM v WHERE vec_id < {_HNM_ANCHORS}
    ), scored AS (
      SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
             v.vec_id AS cand_id, v.label AS cand_label,
             ROUND(CAST({_DOT_SQL.format(a="q.embedding", b="v.embedding")}
                     AS DOUBLE)
                   / (sqrt(CAST(q.norm2 AS DOUBLE))
                      * sqrt(CAST(v.norm2 AS DOUBLE))), 6) AS cosine
      FROM q JOIN v ON v.vec_id <> q.vec_id
    ), pos AS (
      SELECT anchor_id, MAX(cosine) AS hardest_pos_cosine
      FROM scored WHERE cand_label = anchor_label
      GROUP BY anchor_id
    ), neg AS (
      SELECT anchor_id, cand_id AS negative_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
                    ORDER BY cosine DESC, cand_id) AS BIGINT) AS rank
      FROM scored WHERE cand_label <> anchor_label
    )
    SELECT n.anchor_id, n.negative_id, n.cosine AS neg_cosine, n.rank,
           p.hardest_pos_cosine,
           n.cosine < p.hardest_pos_cosine AS semi_hard
    FROM neg n JOIN pos p USING (anchor_id)
    WHERE n.rank <= {_HNM_K}
    """,
    tags=("similarity", "hard-negative", "contrastive", "llm-pipeline"),
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the FaceNet /
    dense-retrieval batch-construction step): for each anchor in the
    query batch, the {_HNM_K} OTHER-label vectors with the highest
    cosine (the negatives the loss learns most from), each flagged
    semi-hard when it still scores below the anchor's hardest
    SAME-label positive — the margin band semi-hard mining keeps,
    since negatives above the hardest positive are suspect labels as
    often as hard cases. Completes the embedding training-data family:
    q_negative_sampling draws RANDOM negatives, this mines the hard
    ones, q_knn_graph/q_cluster_representative feed the positives.

    Exactness: the q_cosine_topk treatment — integer-quantized dot
    products, cosine ROUNDED to 6 digits before ranking, neighbor-id
    tie-break — so ranks, margins, and flags hash identically.

    Scale: anchors broadcast onto one corpus scan (the documented
    exactness baseline); per-anchor ranking is a keyed window cut at
    {_HNM_K} (WindowGroupLimit heap); the hardest-positive reduction
    is one hash aggregate over the same scored frame. At index scale
    the scored frame is replaced by the ANN shortlist (q_ann_ivf /
    q_ann_pq) with identical downstream mechanics."""
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        dot_int(F.col("embedding"), F.col("embedding")).alias("norm2"),
    )
    q = v.filter(F.col("vec_id") < _HNM_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_norm2"),
    )
    scored = (
        F.broadcast(q)
        .join(v, F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("cand_label"),
            F.round(
                cosine_expr(
                    dot_int(F.col("q_emb"), F.col("embedding")),
                    F.col("q_norm2"),
                    F.col("norm2"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    pos = (
        scored.filter(F.col("cand_label") == F.col("anchor_label"))
        .groupBy("anchor_id")
        .agg(F.max("cosine").alias("hardest_pos_cosine"))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), "cand_id"
    )
    neg = (
        scored.filter(F.col("cand_label") != F.col("anchor_label"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _HNM_K)
        .select(
            "anchor_id",
            F.col("cand_id").alias("negative_id"),
            F.col("cosine").alias("neg_cosine"),
            "rank",
        )
    )
    return neg.join(pos, "anchor_id").select(
        "anchor_id",
        "negative_id",
        "neg_cosine",
        "rank",
        "hardest_pos_cosine",
        (F.col("neg_cosine") < F.col("hardest_pos_cosine")).alias(
            "semi_hard"
        ),
    )


# ---------------------------------------------------------------------
# q_jl_distortion (round 8)
# ---------------------------------------------------------------------

_JL_K = 16  # target dimension
_JL_SAMPLE = 20  # pair sample: vec_id < 20 -> C(20,2) = 190 pairs


def _jl_oracle() -> str:
    from .llm_pipeline import _hex_val_sql

    sign = (
        "(("
        + _hex_val_sql(
            "md5('jl#' || CAST(d AS VARCHAR) || '#' || CAST(j AS VARCHAR))",
            4,
        )
        + ") % 2 * 2 - 1)"
    )
    qx = _QI.format(x="v.embedding[d]")
    return f"""
    WITH v AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_JL_SAMPLE}
    ),
    cells AS (
      SELECT v.vec_id, j.j, d.d, {sign} * {qx} AS contrib
      FROM v
      CROSS JOIN (SELECT unnest(range(1, 65)) AS d) d
      CROSS JOIN (SELECT unnest(range(1, {_JL_K + 1})) AS j) j
    ),
    proj AS (
      SELECT vec_id, j, CAST(SUM(contrib) AS BIGINT) AS pj
      FROM cells GROUP BY vec_id, j
    ),
    d2p AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             SUM(CAST(a.pj - b.pj AS HUGEINT) * (a.pj - b.pj)) AS d2_proj
      FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    d2o AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(list_reduce(list_transform(range(1, 65), i ->
               ({_QI.format(x="a.embedding[i]")}
                - {_QI.format(x="b.embedding[i]")})
               * ({_QI.format(x="a.embedding[i]")}
                  - {_QI.format(x="b.embedding[i]")})),
               (s, x) -> s + x) AS HUGEINT) AS d2_orig
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT o.vec_a, o.vec_b,
           CAST(o.d2_orig AS BIGINT) AS d2_orig,
           CAST(p.d2_proj AS BIGINT) AS d2_proj,
           CAST((1000000 * p.d2_proj) // ({_JL_K} * o.d2_orig) AS BIGINT)
             AS ratio_ppm
    FROM d2o o JOIN d2p p USING (vec_a, vec_b)
    WHERE o.d2_orig > 0
    """


@query(
    "q_jl_distortion",
    oracle=_jl_oracle(),
    tags=("similarity", "random-projection", "johnson-lindenstrauss",
          "dimensionality"),
)
def q_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit: project the embeddings
    through a DETERMINISTIC +/-1 sign matrix (md5 parity per (input
    dim, output dim) cell — the Achlioptas 2003 database-friendly
    construction) down to {_JL_K} dims, and report every sampled
    pair's squared-distance ratio E-normalized to ppm
    (1e6 * |Ra - Rb|^2 / (k * |a - b|^2), expectation exactly 1e6).
    The measured evidence for choosing a projection width before
    sketching distances at scale — the distance-preservation
    counterpart of q_ann_recall_curve (recall) and
    q_mrl_truncation_recall (prefix truncation), and the audit behind
    the SRP bands SemDeDup/ANN already use.

    Exactness: elements quantize once (the _Q grid); signs are md5
    hex parity, dialect-shared; projections, squared distances, and
    the ratio are exact wide-integer arithmetic end to end.

    Scale: the projection of the SAMPLE is |sample| x 64 x {_JL_K}
    fan-out (constant); at corpus scale the same expression projects
    every vector map-side in one pass (the SRP band path), and only
    the k-dim projections shuffle — the audit here is what justifies
    trusting those 16-number summaries."""
    from .llm_pipeline import _hex_val_sql

    v = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _JL_SAMPLE
    )
    sign = (
        "(("
        + _hex_val_sql(
            "md5(concat('jl#', CAST(d AS STRING), '#', CAST(j AS STRING)))",
            4,
        )
        + ") % 2 * 2 - 1)"
    )
    cells = (
        v.select("vec_id", F.posexplode("embedding").alias("d0", "x"))
        .select(
            "vec_id",
            (F.col("d0") + 1).alias("d"),
            F.expr(f"CAST(ROUND(CAST(x AS DOUBLE) * {_Q}, 0) AS BIGINT)")
            .alias("qx"),
        )
        .select(
            "vec_id",
            "d",
            "qx",
            F.explode(
                F.array(*[F.lit(j) for j in range(1, _JL_K + 1)])
            ).alias("j"),
        )
        .select("vec_id", "j", F.expr(f"{sign} * qx").alias("contrib"))
    )
    proj = cells.groupBy("vec_id", "j").agg(
        F.sum("contrib").cast("long").alias("pj")
    )
    pa = proj.select(
        F.col("vec_id").alias("vec_a"), "j", F.col("pj").alias("pa")
    )
    pb = proj.select(
        F.col("vec_id").alias("vec_b"), "j", F.col("pj").alias("pb")
    )
    d2p = (
        pa.join(pb, ["j"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(
            F.expr(
                "SUM(CAST(pa - pb AS DECIMAL(38,0)) * (pa - pb))"
            ).alias("d2_proj")
        )
    )
    va = v.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    vb = v.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    diff2 = F.zip_with(
        F.col("ea"), F.col("eb"), lambda x, y: (qint(x) - qint(y)) * (qint(x) - qint(y))
    )
    d2o = (
        va.join(vb, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.aggregate(diff2, F.lit(0).cast("long"), lambda s, x: s + x)
            .alias("d2_orig"),
        )
    )
    # identical sampled vectors (d2_orig = 0) would divide by zero in
    # BOTH engines; excluded identically (a zero-distance pair carries
    # no distortion information anyway)
    return d2o.filter(F.col("d2_orig") > 0).join(d2p, ["vec_a", "vec_b"]).select(
        "vec_a",
        "vec_b",
        "d2_orig",
        F.col("d2_proj").cast("long").alias("d2_proj"),
        F.expr(
            f"CAST((1000000 * CAST(d2_proj AS DECIMAL(38,0)))"
            f" div ({_JL_K} * CAST(d2_orig AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("ratio_ppm"),
    )


# ---------------------------------------------------------------------
# q_embedding_mmd (round 8)
# ---------------------------------------------------------------------


@query(
    "q_embedding_mmd",
    oracle=f"""
    WITH ve AS (
      SELECT d.source, e.embedding
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    ),
    sums AS MATERIALIZED (
      SELECT source, g.i AS dim,
             CAST(SUM({_QI.format(x="embedding[g.i]")}) AS HUGEINT) AS s,
             CAST(COUNT(*) AS HUGEINT) AS n
      FROM ve, generate_series(1, 64) AS g(i)
      GROUP BY source, g.i
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(MAX(a.n) AS BIGINT) AS n_a, CAST(MAX(b.n) AS BIGINT) AS n_b,
             SUM((a.s * b.n - b.s * a.n) * (a.s * b.n - b.s * a.n)) AS num
      FROM sums a JOIN sums b ON a.dim = b.dim AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, n_a, n_b,
           CAST((1000000 * num)
                // (CAST(n_a AS HUGEINT) * n_a * n_b * n_b
                    * {_Q} * {_Q}) AS BIGINT) AS mmd2_micro
    FROM pairs
    """,
    tags=("similarity", "mmd", "distribution-shift", "embedding",
          "llm-pipeline"),
)
def q_embedding_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared Maximum Mean Discrepancy between every pair of sources
    in EMBEDDING space, linear kernel (Gretton et al. 2012): with
    k(x,y) = <x,y>, MMD^2 collapses to |mu_a - mu_b|^2, the squared
    distance between the sources' mean embeddings — the
    distribution-shift detector that sees what q_source_jsd /
    q_source_tv_distance (token histograms) cannot: two sources with
    identical vocabularies but different SEMANTICS separate here. The
    data-mixture / drift readout before mixing a new source into a
    training corpus.

    Exactness: elements quantize once (the _Q grid); per-source
    per-dim sums are exact; the mean difference clears denominators as
    (Sa*nb - Sb*na) over na*nb, squared and summed in DECIMAL(38,0)/
    HUGEINT, then ONE truncating micro division normalizes by
    (na*nb)^2 and the quantization grid — every value hashes.

    Scale: one (source, dim) hash aggregate over the exploded
    embeddings (64 rows per source — map-side combinable); the pair
    grid joins |sources| x 64-row frames on dim (broadcast-sized).
    The kernel trick is the point at scale: NO pairwise |a||b| vector
    comparisons, just mean embeddings — a Gaussian-kernel MMD would
    need random features (the q_jl_distortion machinery) to keep the
    same shape."""
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ve = e.join(d, e.vec_id == d.doc_id).select("source", "embedding")
    sums = (
        ve.select("source", F.posexplode("embedding").alias("d0", "x"))
        .select(
            "source",
            (F.col("d0") + 1).alias("dim"),
            F.expr(
                f"CAST(ROUND(CAST(x AS DOUBLE) * {_Q}, 0) AS BIGINT)"
            ).alias("qx"),
        )
        .groupBy("source", "dim")
        .agg(
            F.expr("CAST(SUM(qx) AS DECIMAL(38,0))").alias("s"),
            F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        )
    )
    a = sums.select(
        F.col("source").alias("source_a"),
        "dim",
        F.col("s").alias("sa"),
        F.col("n").alias("na"),
    )
    b = sums.select(
        F.col("source").alias("source_b"),
        "dim",
        F.col("s").alias("sb"),
        F.col("n").alias("nb"),
    )
    pairs = (
        a.join(F.broadcast(b), ["dim"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.max("na").cast("long").alias("n_a"),
            F.max("nb").cast("long").alias("n_b"),
            F.expr(
                "SUM((sa * nb - sb * na) * (sa * nb - sb * na))"
            ).alias("num"),
        )
    )
    return pairs.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        F.expr(
            f"CAST((1000000 * num) div (CAST(n_a AS DECIMAL(38,0)) * n_a"
            f" * n_b * n_b * {_Q} * {_Q}) AS BIGINT)"
        ).alias("mmd2_micro"),
    )

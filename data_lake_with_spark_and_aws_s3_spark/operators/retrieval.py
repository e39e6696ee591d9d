"""Full-text retrieval operators over the documents corpus: BM25
top-k ranking from a distributed inverted statistic build, and an
n-gram language-model predictability filter (the KenLM-style "does a
cheap LM think this document is plausible text" quality gate every
LLM-data pipeline runs).

BM25 is the classic lexical ranker (Robertson & Zaragoza 2009):

    score(q, d) = sum over t in q of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))

Everything distributes as three one-scan aggregates (tf per doc-term,
df per term, corpus length stats) plus a term-keyed join against the
tiny broadcast query-term table; no all-pairs anywhere. The per-term
score is quantized to integer micro-nats BEFORE the per-(query, doc)
sum so the hashable surface is order-independent exact integers
([[oracle-exactness-playbook]], same treatment as q_entropy_profile).

The bigram LM avoids floats entirely: add-one-smoothed conditional
probabilities are held as exact integer parts-per-million
(p_ppm = 1e6 * (c12 + 1) div (c1 + V)), so Spark and DuckDB agree bit
for bit with no ln/rounding boundary at any scale factor.

At 100 TB: tf/df/bigram counts all have map-side partial aggregation;
the scoring joins are keyed on term/bigram (shuffle proportional to
the posting statistics, not the corpus squared); query terms and the
vocabulary scalar broadcast. This is exactly how a distributed index
build + LM-filter pass is laid out on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textops import tokens, words
from ..registry import query
from ..sources.loader import load_table

# (query_id, query text) — terms chosen from the corpus vocabulary with
# a spread of document frequencies ('dup' is rare -> high idf; 'join'
# and 'hash' are near-ubiquitous -> idf close to 0, which is exactly
# the regime where the quantized-idf plumbing has to stay exact).
_BM25_QUERIES = (
    (1, "hash join spark"),
    (2, "window agg stream"),
    (3, "dup scan"),
)
_BM25_K = 5  # top-k docs per query
_K1 = "1.2"
_B = "0.75"


def _bm25_queries_df(spark: SparkSession) -> DataFrame:
    rows = [(qid, text) for qid, text in _BM25_QUERIES]
    return spark.createDataFrame(rows, "query_id INT, query_text STRING")


def _bm25_queries_sql() -> str:
    vals = ", ".join(f"({qid}, '{text}')" for qid, text in _BM25_QUERIES)
    return f"(VALUES {vals}) AS q(query_id, query_text)"


# Shared oracle CTE chain: corpus inverted statistics -> per-(query,
# doc) integer micro-nat BM25 scores. Reused verbatim by q_bm25_topk
# and the RRF fusion query so both rank the SAME exactly-checked
# score surface.
_BM25_CTES = f"""
    tok AS (
      SELECT doc_id, t AS term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      WHERE t <> ''
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS sum_dl
      FROM dl
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY term
    ),
    qterm AS (
      SELECT query_id, unnest(string_split(query_text, ' ')) AS term
      FROM {_bm25_queries_sql()}
    ),
    idf AS (
      SELECT qterm.query_id, qterm.term,
             CAST(ROUND(ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                                  / (CAST(df.df AS DOUBLE) + 0.5)) * 1000000) AS BIGINT)
               AS idf_mnats
      FROM qterm JOIN df USING (term) CROSS JOIN stats
    ),
    scored_terms AS (
      SELECT idf.query_id, tf.doc_id,
             CAST(ROUND(CAST(idf.idf_mnats AS DOUBLE)
                        * ((CAST(tf.tf AS DOUBLE) * ({_K1} + 1.0))
                           / (CAST(tf.tf AS DOUBLE)
                              + {_K1} * ((1.0 - {_B})
                                         + {_B} * (CAST(dl.dl AS DOUBLE)
                                                   / (CAST(stats.sum_dl AS DOUBLE)
                                                      / CAST(stats.n_docs AS DOUBLE))))))
                   ) AS BIGINT) AS term_score_mnats
      FROM idf
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    ),
    doc_scores AS (
      SELECT query_id, doc_id,
             CAST(SUM(term_score_mnats) AS BIGINT) AS score_mnats,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      FROM scored_terms GROUP BY query_id, doc_id
    )"""


@query(
    "q_bm25_topk",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT query_id, doc_id, score_mnats, n_terms_hit,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT query_id, doc_id, score_mnats, n_terms_hit,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_mnats DESC, doc_id) AS rnk
      FROM doc_scores)
    WHERE rnk <= {_BM25_K}
    """,
    tags=("retrieval", "bm25", "text", "llm-pipeline"),
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k document retrieval for a fixed query set, built from
    distributed inverted statistics (tf, df, doc length) — the lexical
    half of every retrieval/RAG stack.

    Cross-engine exactness: idf is quantized to integer micro-nats
    (one ln per query term — a handful of values, each rounded from a
    half-ulp-safe region); the tf-saturation factor is a pure-double
    expression of exactly-representable integers written with the SAME
    association in both engines, so each per-term score rounds to the
    same integer; the per-document score is then an exact integer SUM
    (order-independent). Ranking happens on (score_mnats DESC, doc_id)
    — fully deterministic.

    Scale: tf and df are one-scan hash aggregates with map-side
    partials; the query-term table (a few rows) broadcasts into the
    posting join, so the only real shuffle is the tf/df build keyed by
    term — proportional to the index, not to |docs| x |queries|. The
    final top-k is a per-query window over only the matched docs."""
    doc_scores, _dl = _bm25_doc_scores(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("score_mnats"), "doc_id")
    return (
        doc_scores.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _BM25_K)
        .select("query_id", "doc_id", "score_mnats", "n_terms_hit", "rnk")
    )


def _bm25_doc_scores(spark: SparkSession, sf_dir: str):
    """(doc_scores, dl): per-(query, doc) exact integer micro-nat BM25
    scores plus the doc-length table — the Spark face of _BM25_CTES.

    Round 8 note (measured REJECTION): deriving dl and df from a
    pinned (doc, term) count table — one tokenize pass instead of
    three — was built and benchmarked, and LOST at bench scale
    (q_bm25_topk 2.1 s -> 3.8 s): the three aggregates run as
    PARALLEL stages that the 32-core session absorbs for free, while
    the pin serializes the DAG behind a full materialization of the
    tf table. At 100 TB the trade inverts (three corpus tokenize
    passes dwarf one tf materialization) — there you persist tf as a
    TABLE; in this engine the parallel-stages form is the faster
    honest shape. Scan fan-out was ALSO rejected here (2.1 s ->
    3.4 s): with 32 map partitions each partial aggregate emits its
    own copy of every overlapping term key, multiplying the shuffle
    rows by the partition count — token explode + hash aggregate is
    shuffle-bound, not per-row-compute-bound, so the fan-out helps
    the shingle/HOF pipelines and hurts this one."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(words()).alias("term")).filter(
        F.col("term") != ""
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    qterm = (
        _bm25_queries_df(spark)
        .select("query_id", F.explode(F.split("query_text", " ")).alias("term"))
    )
    idf = (
        F.broadcast(qterm)
        .join(df, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "term",
            F.expr(
                "CAST(ROUND(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
                " / (CAST(df AS DOUBLE) + 0.5)) * 1000000) AS BIGINT)"
            ).alias("idf_mnats"),
        )
    )
    scored = (
        F.broadcast(idf)
        .join(tf, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.expr(
                f"CAST(ROUND(CAST(idf_mnats AS DOUBLE)"
                f" * ((CAST(tf AS DOUBLE) * ({_K1} + 1.0))"
                f" / (CAST(tf AS DOUBLE)"
                f" + {_K1} * ((1.0 - {_B})"
                f" + {_B} * (CAST(dl AS DOUBLE)"
                f" / (CAST(sum_dl AS DOUBLE)"
                f" / CAST(n_docs AS DOUBLE))))))"
                f") AS BIGINT)"
            ).alias("term_score_mnats"),
        )
    )
    doc_scores = scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_score_mnats").alias("score_mnats"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    return doc_scores, dl


_RRF_K = 60       # the canonical RRF damping constant
_RRF_TOPK = 10    # fused results per query
_RRF_SCALE = 1_000_000  # integer reciprocal-rank resolution


@query(
    "q_rrf_fusion",
    oracle=f"""
    WITH {_BM25_CTES},
    ranked AS (
      SELECT ds.query_id, ds.doc_id,
             CAST(row_number() OVER (PARTITION BY ds.query_id
                    ORDER BY ds.score_mnats DESC, ds.doc_id) AS BIGINT)
               AS rank_bm25,
             CAST(row_number() OVER (PARTITION BY ds.query_id
                    ORDER BY ds.n_terms_hit DESC, dl.dl, ds.doc_id) AS BIGINT)
               AS rank_cov
      FROM doc_scores ds JOIN dl ON dl.doc_id = ds.doc_id
    ),
    fused AS (
      SELECT query_id, doc_id, rank_bm25, rank_cov,
             CAST({_RRF_SCALE} // ({_RRF_K} + rank_bm25)
                  + {_RRF_SCALE} // ({_RRF_K} + rank_cov) AS BIGINT)
               AS rrf_micro
      FROM ranked
    )
    SELECT query_id, doc_id, rank_bm25, rank_cov, rrf_micro,
           CAST(fused_rnk AS BIGINT) AS fused_rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf_micro DESC, doc_id) AS fused_rnk
      FROM fused)
    WHERE fused_rnk <= {_RRF_TOPK}
    """,
    tags=("retrieval", "rrf", "hybrid", "fusion", "llm-pipeline"),
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval arms — the standard
    hybrid-search combiner (Cormack et al. 2009): arm 1 ranks by the
    exactly-checked BM25 micro-nat score, arm 2 by query-term coverage
    (terms hit desc, shorter docs first). Fused score is
    sum over arms of SCALE div (60 + rank) — a truncating integer
    division both engines compute identically, so ranks, fused scores,
    and the final top-10 all hash exactly.

    Scale: both rank windows and the fused window partition by
    query_id over only the candidate docs that matched >=1 query term
    (the doc_scores posting join's output, not the corpus); the three
    windows share one query_id-keyed exchange. The dl join adds one
    doc_id-keyed shuffle of the candidate set."""
    doc_scores, dl = _bm25_doc_scores(spark, sf_dir)
    cand = doc_scores.join(dl, "doc_id")
    w_bm25 = Window.partitionBy("query_id").orderBy(
        F.desc("score_mnats"), "doc_id"
    )
    w_cov = Window.partitionBy("query_id").orderBy(
        F.desc("n_terms_hit"), "dl", "doc_id"
    )
    ranked = cand.select(
        "query_id",
        "doc_id",
        F.row_number().over(w_bm25).cast("long").alias("rank_bm25"),
        F.row_number().over(w_cov).cast("long").alias("rank_cov"),
    )
    fused = ranked.withColumn(
        "rrf_micro",
        F.expr(
            f"CAST({_RRF_SCALE} div ({_RRF_K} + rank_bm25)"
            f" + {_RRF_SCALE} div ({_RRF_K} + rank_cov) AS BIGINT)"
        ),
    )
    w_fused = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), "doc_id"
    )
    return (
        fused.withColumn(
            "fused_rnk", F.row_number().over(w_fused).cast("long")
        )
        .filter(F.col("fused_rnk") <= _RRF_TOPK)
        .select(
            "query_id", "doc_id", "rank_bm25", "rank_cov",
            "rrf_micro", "fused_rnk",
        )
    )


_LM_KEEP_PPM = 40_000  # keep docs whose mean bigram probability >= 4%


@query(
    "q_bigram_lm_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
            FROM toks WHERE len(t) >= 2)
    ),
    c12 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY w1, w2
    ),
    c1 AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v
      FROM (SELECT w1 FROM bg UNION ALL SELECT w2 FROM bg)
    ),
    p AS (
      SELECT c12.w1, c12.w2,
             (1000000 * (c12.c12 + 1)) // (c1.c1 + vocab.v) AS p_ppm
      FROM c12 JOIN c1 USING (w1) CROSS JOIN vocab
    ),
    doc AS (
      SELECT bg.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(p.p_ppm) AS BIGINT) AS sum_ppm
      FROM bg JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
      GROUP BY bg.doc_id
    )
    SELECT doc_id, n_bigrams,
           sum_ppm // n_bigrams AS mean_ppm,
           sum_ppm // n_bigrams >= {_LM_KEEP_PPM} AS keep
    FROM doc
    """,
    tags=("retrieval", "lm-score", "quality", "llm-pipeline"),
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model predictability filter: train add-one-
    smoothed bigram probabilities on the corpus itself, then score
    each document by its mean bigram probability and gate on a
    threshold — the cheap-LM quality filter (the KenLM-perplexity
    pattern) from CCNet/Gopher-style pipelines.

    Exactness: probabilities are exact integer parts-per-million via
    truncating integer division (all operands positive, so Spark `div`
    == DuckDB `//`); the document score is an integer sum then one
    more integer division. No floats anywhere — hash-stable at every
    scale factor by construction.

    Scale: bigram extraction is map-side (posexplode over an array
    slice — no shuffle); the count model is one hash aggregate keyed
    by bigram with map-side partials; scoring joins docs' bigrams to
    the model on the bigram key (shuffle ~ corpus bigram count, the
    same cost as the count build); V is a 1-row broadcast scalar. On a
    real cluster the trained model table is exactly what you'd persist
    and re-broadcast for incremental scoring of new batches."""
    # r8 note (measured REJECTIONS): a pinned (doc, w1, w2) count
    # table replacing the three bg consumers measured 1.3 s -> 2.9 s,
    # and scan fan-out alone 1.3 s -> 2.1 s (partial-agg key overlap
    # x32 map partitions) — see _bm25_doc_scores' docstring. Original
    # shape kept.
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        tokens().alias("t"),
    ).filter(F.size("t") >= 2)
    bg = toks.select(
        "doc_id",
        F.posexplode(F.expr("slice(t, 1, size(t) - 1)")).alias("pos", "w1"),
        F.col("t"),
    ).select("doc_id", "w1", F.expr("t[pos + 1]").alias("w2"))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        bg.select(F.col("w1").alias("w"))
        .unionAll(bg.select(F.col("w2").alias("w")))
        .agg(F.countDistinct("w").alias("v"))
    )
    p = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("w1", "w2", F.expr("(1000000 * (c12 + 1)) div (c1 + v)").alias("p_ppm"))
    )
    doc = bg.join(p, ["w1", "w2"]).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("p_ppm").alias("sum_ppm"),
    )
    return doc.select(
        "doc_id",
        "n_bigrams",
        F.expr("sum_ppm div n_bigrams").alias("mean_ppm"),
        (F.expr("sum_ppm div n_bigrams") >= F.lit(_LM_KEEP_PPM)).alias("keep"),
    )


# Position discounts for NDCG@10 as exact integer micro-units:
# disc(i) = round(1e6 / log2(i + 1)). Both engines consume the SAME
# literal table, so the only transcendental (log2) is evaluated once,
# here, at authoring time — never inside either engine.
_NDCG_DISC = (
    (1, 1000000), (2, 630930), (3, 500000), (4, 430677), (5, 386853),
    (6, 356207), (7, 333333), (8, 315465), (9, 301030), (10, 289065),
)
_NDCG_DISC_SQL = ", ".join(f"({i}, {d})" for i, d in _NDCG_DISC)

# (query_id, term1, term2) — graded relevance = how many of the two
# terms a document contains (0/1/2), the standard multi-term judgment.
_NDCG_QUERIES = (
    (1, "scan", "filter"),
    (2, "stream", "window"),
    (3, "join", "hash"),
    (4, "table", "column"),
    (5, "fast", "slow"),
)
_NDCG_Q_SQL = ", ".join(f"({q}, '{a}', '{b}')" for q, a, b in _NDCG_QUERIES)


@query(
    "q_ndcg_at_10",
    oracle=f"""
    WITH q(query_id, t1, t2) AS (VALUES {_NDCG_Q_SQL}),
    disc(pos, d_micro) AS (VALUES {_NDCG_DISC_SQL}),
    judged AS (
      SELECT q.query_id, d.doc_id, d.n_chars,
             (CASE WHEN ' ' || d.text || ' ' LIKE '% ' || q.t1 || ' %'
                   THEN 1 ELSE 0 END
              + CASE WHEN ' ' || d.text || ' ' LIKE '% ' || q.t2 || ' %'
                     THEN 1 ELSE 0 END) AS rel
      FROM documents d CROSS JOIN q
    ),
    ranked AS (  -- the system under evaluation: longest-doc-first
      SELECT query_id, rel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY n_chars DESC, doc_id) AS pos
      FROM judged
    ),
    ideal AS (   -- the oracle ranking: by graded relevance
      SELECT query_id, rel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rel DESC, doc_id) AS pos
      FROM judged
    ),
    dcg AS (
      SELECT query_id,
             CAST(SUM(((1 << rel) - 1) * d_micro) AS BIGINT) AS dcg_micro
      FROM ranked JOIN disc USING (pos) WHERE pos <= 10 GROUP BY query_id
    ),
    idcg AS (
      SELECT query_id,
             CAST(SUM(((1 << rel) - 1) * d_micro) AS BIGINT) AS idcg_micro
      FROM ideal JOIN disc USING (pos) WHERE pos <= 10 GROUP BY query_id
    )
    SELECT query_id, dcg_micro, idcg_micro,
           CAST((1000000 * dcg_micro) // idcg_micro AS BIGINT) AS ndcg_ppm
    FROM dcg JOIN idcg USING (query_id)
    """,
    tags=("retrieval", "evaluation", "ndcg", "ranking-quality"),
)
def q_ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of a ranking system against graded relevance judgments
    — the standard retrieval-evaluation metric, in exact integers. The
    system under test ranks documents longest-first (a deliberately
    naive ranker so the metric has something to measure); relevance is
    the count of query terms present (graded 0/1/2); gain is the
    classic 2^rel - 1; position discounts are a 10-row literal table
    of round(1e6/log2(i+1)) shared verbatim by both engines, so DCG,
    ideal DCG and their ppm ratio are bit-identical everywhere.

    Scale: judgments are a broadcast of |queries| rows onto one corpus
    scan; both rankings are per-query windows (partitioned, no global
    sort — and at 100 TB the top-10 cut runs as a per-partition heap
    via WindowGroupLimit); the discount join broadcasts 10 rows. Cost
    is |queries| x corpus scans' worth of window work, never
    all-pairs."""
    d = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        list(_NDCG_QUERIES), "query_id int, t1 string, t2 string"
    )
    disc = spark.createDataFrame(list(_NDCG_DISC), "pos int, d_micro int")
    judged = d.crossJoin(F.broadcast(q)).select(
        "query_id",
        "doc_id",
        "n_chars",
        F.expr(
            "(CASE WHEN ' ' || text || ' ' LIKE '% ' || t1 || ' %'"
            " THEN 1 ELSE 0 END"
            " + CASE WHEN ' ' || text || ' ' LIKE '% ' || t2 || ' %'"
            " THEN 1 ELSE 0 END)"
        ).alias("rel"),
    )
    w_sys = Window.partitionBy("query_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    w_ideal = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id")
    )
    gain = "((CAST(1 AS BIGINT) << rel) - 1) * d_micro"
    dcg = (
        judged.withColumn("pos", F.row_number().over(w_sys))
        .filter(F.col("pos") <= 10)
        .join(F.broadcast(disc), "pos")
        .groupBy("query_id")
        .agg(F.sum(F.expr(gain)).alias("dcg_micro"))
    )
    idcg = (
        judged.withColumn("pos", F.row_number().over(w_ideal))
        .filter(F.col("pos") <= 10)
        .join(F.broadcast(disc), "pos")
        .groupBy("query_id")
        .agg(F.sum(F.expr(gain)).alias("idcg_micro"))
    )
    return dcg.join(idcg, "query_id").select(
        "query_id",
        "dcg_micro",
        "idcg_micro",
        F.expr("CAST((1000000 * dcg_micro) div idcg_micro AS BIGINT)").alias(
            "ndcg_ppm"
        ),
    )


# ---------------------------------------------------------------------
# q_rank_biased_overlap (round 6)
# ---------------------------------------------------------------------

_RBO_DEPTH = 10
_RBO_P9 = [9**d for d in range(1, _RBO_DEPTH + 1)]   # 9^d  (p = 0.9)
_RBO_P10 = [10**d for d in range(1, _RBO_DEPTH + 1)]  # 10^d


@query(
    "q_rank_biased_overlap",
    oracle=f"""
    WITH agg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1
    ),
    ra AS (
      SELECT l_partkey,
             ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS pos_a
      FROM agg
    ),
    rb AS (
      SELECT l_partkey,
             ROW_NUMBER() OVER (ORDER BY qty DESC, l_partkey) AS pos_b
      FROM agg
    ),
    depths AS (SELECT CAST(d AS BIGINT) AS d FROM range(1, {_RBO_DEPTH + 1}) t(d)),
    x AS (
      SELECT depths.d,
             CAST((SELECT COUNT(*) FROM ra JOIN rb USING (l_partkey)
                   WHERE ra.pos_a <= depths.d AND rb.pos_b <= depths.d)
                  AS BIGINT) AS x_d
      FROM depths
    ),
    terms AS (
      SELECT d, x_d,
             CAST(ROUND(CAST(x_d * ({_RBO_P9})[d] AS DOUBLE)
                        / CAST(d * ({_RBO_P10})[d] AS DOUBLE)
                        * 1000000000) AS BIGINT) AS term_nano
      FROM x
    )
    SELECT d, x_d, term_nano,
           CAST(ROUND(CAST(SUM(term_nano) OVER () AS DOUBLE) / 9.0)
                AS BIGINT) AS rbo_min_nano
    FROM terms
    """,
    tags=("retrieval", "rbo", "rank-comparison", "metrics"),
)
def q_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010, p = 0.9, depth 10)
    between two part rankings — by revenue and by shipped quantity:
    the top-weighted similarity of two top-k lists that an offline
    ranking-change review uses instead of naive set overlap. Emits the
    per-depth agreement curve X_d plus the RBO_min lower bound
    (1−p)/p · Σ X_d/d · p^d on every row.

    Exactness: both rankings order exact integer aggregates with
    partkey tie-breaks; p^d = 9^d/10^d is computed from precomputed
    INTEGER power literals (both ≤ 1e10, exactly representable), so
    each term is one IEEE division of exact operands, quantized to
    nano-units before the exact window sum; the final /9 is one more
    division of an exactly-equal operand.

    Scale: one lineitem aggregate, two |parts|-row top-10 prefixes
    each planned as TakeOrderedAndProject (orderBy+limit, per-partition
    heaps), positions assigned by a window over the <= 10 survivors,
    and a constant 10-row depth spine."""
    agg = load_table(spark, sf_dir, "lineitem").groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("rev"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    )
    # Each prefix: TakeOrderedAndProject (orderBy().limit(depth)) over
    # the |parts|-row ranking, THEN rank the <= depth survivors with a
    # window over at most 10 rows (VERDICT r6 #3 fix — the orderings
    # are total, so positions are identical to a global-rank window
    # without ever holding the full ranking in one task).
    ra = (
        agg.orderBy(F.desc("rev"), F.asc("l_partkey"))
        .limit(_RBO_DEPTH)
        .select(
            "l_partkey",
            F.row_number()
            .over(Window.orderBy(F.desc("rev"), F.asc("l_partkey")))
            .alias("pos_a"),
        )
    )
    rb = (
        agg.orderBy(F.desc("qty"), F.asc("l_partkey"))
        .limit(_RBO_DEPTH)
        .select(
            "l_partkey",
            F.row_number()
            .over(Window.orderBy(F.desc("qty"), F.asc("l_partkey")))
            .alias("pos_b"),
        )
    )
    both = ra.join(rb, "l_partkey")  # parts in both top-10 prefixes
    depths = spark.range(1, _RBO_DEPTH + 1).select(F.col("id").alias("d"))
    x = (
        depths.join(
            F.broadcast(both),
            (F.col("pos_a") <= F.col("d")) & (F.col("pos_b") <= F.col("d")),
            "left",
        )
        .groupBy("d")
        .agg(F.count(F.col("l_partkey")).alias("x_d"))
    )
    p9 = F.element_at(F.array(*[F.lit(v) for v in _RBO_P9]), F.col("d").cast("int"))
    p10 = F.element_at(F.array(*[F.lit(v) for v in _RBO_P10]), F.col("d").cast("int"))
    terms = x.select(
        "d",
        F.col("x_d").cast("long").alias("x_d"),
        F.round(
            (F.col("x_d") * p9).cast("double")
            / (F.col("d") * p10).cast("double")
            * 1_000_000_000
        )
        .cast("long")
        .alias("term_nano"),
    )
    return terms.withColumn(
        "rbo_min_nano",
        F.round(
            F.sum("term_nano").over(Window.partitionBy()).cast("double") / 9.0
        ).cast("long"),
    )


# ---------------------------------------------------------------------
# q_kneser_ney_bigram (round 6)
# ---------------------------------------------------------------------

_KN_TOPK = 50  # emit the 50 most frequent bigrams with their KN score


@query(
    "q_kneser_ney_bigram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, w, rn FROM (
        SELECT doc_id, unnest(words) AS w,
               generate_subscripts(words, 1) AS rn
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '')
                       AS words
              FROM documents)
      )
    ),
    bg AS (
      SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.rn = a.rn + 1
      GROUP BY 1, 2
    ),
    fw AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n1fw
      FROM bg GROUP BY 1
    ),
    bw AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1bw FROM bg GROUP BY 1
    ),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM bg)
    SELECT w1, w2, c12, c1, n1fw, n1bw,
           CAST(ROUND(1000000.0
                      * CAST((4 * c12 - 3) * t + 3 * n1fw * n1bw AS DOUBLE)
                      / CAST(4 * c1 * t AS DOUBLE)) AS BIGINT) AS p_kn_micro
    FROM bg JOIN fw USING (w1) JOIN bw USING (w2), tt
    QUALIFY ROW_NUMBER() OVER (ORDER BY c12 DESC, w1, w2) <= {_KN_TOPK}
    """,
    tags=("retrieval", "kneser-ney", "language-model", "llm-pipeline"),
)
def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney-smoothed bigram language model (absolute discount
    D = 0.75) over the corpus: p_KN(w2|w1) = max(c12−D, 0)/c1 +
    (D·N1+(w1·)/c1) · (N1+(·w2)/T) — the smoothing that backs off to
    CONTINUATION counts ("how many contexts has w2 followed?") rather
    than raw unigrams, which is why it wins perplexity bakeoffs and
    feeds the KenLM-style quality filters (extends q_bigram_lm_score's
    add-one model). Emits the 50 most frequent bigrams with their
    count statistics and KN probability.

    Exactness: with D = 3/4 the whole formula collapses to ONE division
    of exact integer products — ((4·c12−3)·T + 3·N1fw·N1bw)/(4·c1·T) —
    quantized to parts-per-million; every bigram in the table has
    c12 ≥ 1 so the max(·,0) clamp never binds and is elided
    identically on both sides.

    Scale: token positions explode map-side; the bigram self-join is
    keyed on (doc, position) — linear; fw/bw/T are three aggregates of
    the bigram-type table. The model table itself is what ships to the
    scorer (broadcast if small, term-keyed join if not)."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(tokens()).alias("rn", "w"),
        )
    )
    a = toks.select("doc_id", F.col("rn").alias("rn"), F.col("w").alias("w1"))
    b = toks.select(
        "doc_id", (F.col("rn") - 1).alias("rn"), F.col("w").alias("w2")
    )
    bg = (
        a.join(b, ["doc_id", "rn"])
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    fw = bg.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1fw")
    )
    bw = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("n1bw"))
    tt = bg.agg(F.count(F.lit(1)).alias("t"))
    scored = (
        bg.join(fw, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            F.col("n1fw").cast("long").alias("n1fw"),
            F.col("n1bw").cast("long").alias("n1bw"),
            F.round(
                F.lit(1_000_000.0)
                * (
                    (4 * F.col("c12") - 3) * F.col("t")
                    + 3 * F.col("n1fw") * F.col("n1bw")
                ).cast("double")
                / (4 * F.col("c1") * F.col("t")).cast("double")
            )
            .cast("long")
            .alias("p_kn_micro"),
        )
    )
    # top-K of an unbounded frame: orderBy().limit() plans as
    # TakeOrderedAndProject (per-partition heaps + driver merge) — NOT
    # a global-rank window, which would funnel every bigram TYPE in
    # the corpus through one task (VERDICT r6 #3 fix). The ordering is
    # total (c12 desc, w1, w2), so output is identical.
    return scored.orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2")).limit(_KN_TOPK)


# ---------------------------------------------------------------------
# q_err_at_k (round 7)
# ---------------------------------------------------------------------

_ERR_DEPTH = 10
_ERR_GMAX = 3  # graded relevance 0..3 -> stop prob (2^g - 1) / 8
# relevance grade = min(3, (10 - qty_rank) // 3): rank-derived, so the
# grade distribution is scale-free (qty magnitudes grow with SF)


@query(
    "q_err_at_k",
    oracle=f"""
    WITH agg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS rev,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1
    ),
    top AS (
      SELECT l_partkey, rev, qty
      FROM agg ORDER BY rev DESC, l_partkey LIMIT {_ERR_DEPTH}
    ),
    ranked AS (
      SELECT l_partkey, qty,
             CAST(ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS BIGINT)
               AS pos,
             CAST(LEAST({_ERR_GMAX},
                        ({_ERR_DEPTH} - ROW_NUMBER() OVER
                           (ORDER BY qty DESC, l_partkey)) // 3) AS BIGINT)
               AS grade
      FROM top
    ),
    s AS (
      SELECT l_partkey, qty, pos, grade,
             CAST((1 << grade) - 1 AS BIGINT) AS stop_num,
             CAST(COALESCE(product(CAST(8 - ((1 << grade) - 1) AS DOUBLE))
                    OVER (ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 1.0) AS BIGINT) AS cont_num
      FROM ranked
    ),
    t AS (
      SELECT l_partkey, qty, pos, grade,
             CAST(ROUND(1e9 * CAST(stop_num * cont_num AS DOUBLE)
                        / (CAST(pos AS DOUBLE) * (8.0 ^ pos)))
                  AS BIGINT) AS term_nano
      FROM s
    )
    SELECT l_partkey, qty, pos, grade, term_nano,
           CAST(SUM(term_nano) OVER () AS BIGINT) AS err_nano
    FROM t
    """,
    tags=("retrieval", "err", "metrics", "ranking"),
)
def q_err_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Reciprocal Rank at 10 (Chapelle et al. 2009) of the
    revenue ranking of parts, with graded relevance derived from each
    part's QUANTITY RANK within the prefix (grade = min(3,
    (10 - qty_rank) // 3) — rank-based so grades spread at any SF):
    the cascade-model
    ranking metric that, unlike NDCG, discounts a result by the
    probability the user already stopped — the standard top-weighted
    quality readout for a retrieval stack (pairs with q_ndcg_at_10 and
    q_rank_biased_overlap).

    Exactness: with stop probability R = (2^g - 1)/8, each term is
    S_r · Π_{{j<r}}(8 - S_j) / (8^r · r) — ALL-INTEGER numerators
    (windowed product of exact small ints, ≤ 8^9, exactly
    representable), quantized per-term to nano-units by one IEEE
    division, then the ERR total is an exact integer window sum over
    the 10-row frame.

    Scale: one lineitem hash aggregate, a TakeOrderedAndProject top-10
    prefix, and windows over the <= 10 surviving rows (allowlisted
    bounded frame)."""
    agg = load_table(spark, sf_dir, "lineitem").groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("rev"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    )
    top = agg.orderBy(F.desc("rev"), F.asc("l_partkey")).limit(_ERR_DEPTH)
    w_pos = Window.orderBy(F.desc("rev"), F.asc("l_partkey"))
    w_qty = Window.orderBy(F.desc("qty"), F.asc("l_partkey"))
    ranked = top.select(
        "l_partkey",
        "qty",
        F.row_number().over(w_pos).cast("long").alias("pos"),
        F.least(
            F.lit(_ERR_GMAX),
            F.floor((F.lit(_ERR_DEPTH) - F.row_number().over(w_qty)) / 3),
        )
        .cast("long")
        .alias("grade"),
    )
    stop_num = (F.expr("shiftleft(1, CAST(grade AS INT))") - 1).cast("long")
    w_prev = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, -1)
    s = ranked.select(
        "l_partkey",
        "qty",
        "pos",
        "grade",
        stop_num.alias("stop_num"),
        F.coalesce(
            F.product((F.lit(8) - stop_num).cast("double")).over(w_prev),
            F.lit(1.0),
        )
        .cast("long")
        .alias("cont_num"),
    )
    t = s.select(
        "l_partkey",
        "qty",
        "pos",
        "grade",
        F.round(
            F.lit(1e9)
            * (F.col("stop_num") * F.col("cont_num")).cast("double")
            / (F.col("pos").cast("double") * F.pow(F.lit(8.0), F.col("pos")))
        )
        .cast("long")
        .alias("term_nano"),
    )
    w_all = Window.partitionBy()
    return t.select(
        "l_partkey",
        "qty",
        "pos",
        "grade",
        "term_nano",
        F.sum("term_nano").over(w_all).cast("long").alias("err_nano"),
    )


# ---------------------------------------------------------------------
# q_entropy_rate_bigram (round 7)
# ---------------------------------------------------------------------

_ER_TOP = 20  # emit the 20 highest-volume contexts


@query(
    "q_entropy_rate_bigram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    bg AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM (
        SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 2
      )
    ),
    c12 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY 1, 2
    ),
    c1 AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1
    ),
    terms AS (
      SELECT c12.w1, c12.c12, c1.c1,
             c12.c12 * CAST(ROUND(-ln(CAST(c12.c12 AS DOUBLE)
                                      / CAST(c1.c1 AS DOUBLE)) * 1000000)
                            AS BIGINT) AS t_micro
      FROM c12 JOIN c1 USING (w1)
    ),
    ctx AS (
      SELECT w1, CAST(MAX(c1) AS BIGINT) AS c1,
             CAST(SUM(t_micro) AS BIGINT) AS h_sum_micro,
             CAST(SUM(t_micro) // MAX(c1) AS BIGINT) AS h_ctx_micro
      FROM terms GROUP BY w1
    ),
    corpus AS (
      SELECT CAST(SUM(h_sum_micro) // SUM(c1) AS BIGINT)
               AS entropy_rate_micro
      FROM ctx
    )
    SELECT x.w1, x.c1, x.h_ctx_micro, c.entropy_rate_micro
    FROM ctx x, corpus c
    ORDER BY x.c1 DESC, x.w1 LIMIT {_ER_TOP}
    """,
    tags=("retrieval", "entropy-rate", "language-model", "llm-pipeline"),
)
def q_entropy_rate_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram entropy rate of the corpus: H(W₂|W₁) = −Σ p(w1,w2)·ln
    p(w2|w1) under MLE counts — the one-number "how predictable is the
    next token" health metric (natural text sits well below the
    unigram entropy; template floods drive it toward 0, shuffled noise
    toward ln V). Emits the {_ER_TOP} highest-volume contexts with
    their per-context conditional entropy plus the corpus rate on
    every row — the diagnostic slice a curation run reads next to
    q_doc_perplexity_filter (model-based) and q_entropy_profile
    (unigram).

    Exactness: each bigram's −ln(c12/c1) is quantized ONCE PER BIGRAM
    TYPE to integer micro-nats (ln over exactly-equal doubles —
    identical on both engines), weighted by the exact integer c12, and
    summed exactly; both divisions are truncating integer divisions.

    Scale: two hash aggregates over the bigram explode (map-side
    partials), a w1-keyed join — shuffle proportional to bigram TYPES
    — a context aggregate, a 1-row stitch, and a TakeOrdered top-20."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    idx = F.filter(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1))),
        lambda i: i <= F.size(toks) - 1,
    )
    bg = d.select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(toks, i).alias("w1"),
                    F.element_at(toks, i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    terms = c12.join(c1, "w1").select(
        "w1",
        "c12",
        "c1",
        (
            F.col("c12")
            * F.round(
                -F.log(
                    F.col("c12").cast("double") / F.col("c1").cast("double")
                )
                * F.lit(1_000_000)
            ).cast("long")
        ).alias("t_micro"),
    )
    ctx = terms.groupBy("w1").agg(
        F.max("c1").alias("c1"),
        F.sum("t_micro").alias("h_sum_micro"),
        F.expr("CAST(SUM(t_micro) div MAX(c1) AS BIGINT)").alias(
            "h_ctx_micro"
        ),
    )
    corpus = ctx.agg(
        F.expr(
            "CAST(SUM(h_sum_micro) div SUM(c1) AS BIGINT)"
        ).alias("entropy_rate_micro")
    )
    return (
        ctx.crossJoin(F.broadcast(corpus))
        .orderBy(F.desc("c1"), F.asc("w1"))
        .limit(_ER_TOP)
        .select("w1", "c1", "h_ctx_micro", "entropy_rate_micro")
    )


# ---------------------------------------------------------------------
# q_mrr_at_10 (round 8)
# ---------------------------------------------------------------------


@query(
    "q_mrr_at_10",
    oracle=f"""
    WITH q(query_id, t1, t2) AS (VALUES {_NDCG_Q_SQL}),
    judged AS (
      SELECT q.query_id, d.doc_id, d.n_chars,
             (CASE WHEN ' ' || d.text || ' ' LIKE '% ' || q.t1 || ' %'
                   THEN 1 ELSE 0 END
              + CASE WHEN ' ' || d.text || ' ' LIKE '% ' || q.t2 || ' %'
                     THEN 1 ELSE 0 END) AS rel
      FROM documents d CROSS JOIN q
    ),
    ranked AS (  -- same system under evaluation as q_ndcg_at_10
      SELECT query_id, rel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY n_chars DESC, doc_id) AS pos
      FROM judged
    ),
    first_hit AS (
      SELECT query_id,
             CAST(MIN(CASE WHEN rel >= 1 AND pos <= 10 THEN pos END)
               AS BIGINT) AS first_rel_pos
      FROM ranked WHERE pos <= 10 GROUP BY query_id
    ),
    rr AS (
      SELECT query_id, COALESCE(first_rel_pos, 0) AS first_rel_pos,
             CAST(CASE WHEN first_rel_pos IS NULL THEN 0
                       ELSE 1000000 // first_rel_pos END AS BIGINT) AS rr_ppm
      FROM first_hit
    )
    SELECT query_id, first_rel_pos, rr_ppm,
           CAST((SELECT SUM(rr_ppm) FROM rr) // (SELECT COUNT(*) FROM rr)
             AS BIGINT) AS mrr_ppm
    FROM rr
    """,
    tags=("retrieval", "evaluation", "mrr", "ranking-quality"),
)
def q_mrr_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 (mean reciprocal rank) of the q_ndcg_at_10 ranking
    system over the same five term queries — the metric a search
    engineer reads when only the FIRST relevant hit matters
    (known-item lookup), completing the evaluation trio
    NDCG (graded) / ERR (cascade) / MRR (first-hit).

    Exactness: relevance (>= 1 query term present) and positions are
    exact integers; the reciprocal rank is a truncating integer
    division to ppm (1000000 div pos), queries with no relevant doc in
    the top 10 score 0, and the mean is one more truncating integer
    division — the whole surface hashes.

    Scale: |queries| broadcast onto one corpus scan; the ranking is a
    per-query-KEYED window (WindowGroupLimit heap at the top-10 cut);
    the reduction is |queries| rows."""
    d = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        list(_NDCG_QUERIES), "query_id int, t1 string, t2 string"
    )
    judged = d.crossJoin(F.broadcast(q)).select(
        "query_id",
        "doc_id",
        "n_chars",
        F.expr(
            "(CASE WHEN ' ' || text || ' ' LIKE '% ' || t1 || ' %'"
            " THEN 1 ELSE 0 END"
            " + CASE WHEN ' ' || text || ' ' LIKE '% ' || t2 || ' %'"
            " THEN 1 ELSE 0 END)"
        ).alias("rel"),
    )
    w_sys = Window.partitionBy("query_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    first_hit = (
        judged.withColumn("pos", F.row_number().over(w_sys))
        .filter(F.col("pos") <= 10)
        .groupBy("query_id")
        .agg(
            F.min(
                F.when(F.col("rel") >= 1, F.col("pos"))
            ).cast("long").alias("first_rel_pos")
        )
    )
    rr = first_hit.select(
        "query_id",
        F.coalesce("first_rel_pos", F.lit(0)).alias("first_rel_pos"),
        F.expr(
            "CAST(CASE WHEN first_rel_pos IS NULL THEN 0"
            " ELSE 1000000 div first_rel_pos END AS BIGINT)"
        ).alias("rr_ppm"),
    )
    mrr = rr.agg(
        F.expr("CAST(SUM(rr_ppm) div COUNT(*) AS BIGINT)").alias("mrr_ppm")
    )
    return rr.crossJoin(F.broadcast(mrr)).select(
        "query_id", "first_rel_pos", "rr_ppm", "mrr_ppm"
    )


# ---------------------------------------------------------------------
# q_map_at_10 (round 8)
# ---------------------------------------------------------------------


@query(
    "q_map_at_10",
    oracle=f"""
    WITH q(query_id, t1, t2) AS (VALUES {_NDCG_Q_SQL}),
    judged AS (
      SELECT q.query_id, d.doc_id, d.n_chars,
             (CASE WHEN ' ' || d.text || ' ' LIKE '% ' || q.t1 || ' %'
                   THEN 1 ELSE 0 END
              + CASE WHEN ' ' || d.text || ' ' LIKE '% ' || q.t2 || ' %'
                     THEN 1 ELSE 0 END) AS rel
      FROM documents d CROSS JOIN q
    ),
    totals AS (
      SELECT query_id, CAST(SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_rel_total
      FROM judged GROUP BY query_id
    ),
    ranked AS (  -- same system under evaluation as q_ndcg_at_10
      SELECT query_id, rel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY n_chars DESC, doc_id) AS pos
      FROM judged
    ),
    cum AS (
      SELECT query_id, rel, pos,
             SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY query_id ORDER BY pos) AS cum_rel
      FROM ranked WHERE pos <= 10
    ),
    ap AS (
      SELECT c.query_id, t.n_rel_total,
             CAST(CASE WHEN t.n_rel_total = 0 THEN 0
                  ELSE SUM(CASE WHEN c.rel >= 1
                                THEN (1000000 * c.cum_rel) // c.pos
                                ELSE 0 END)
                       // LEAST(t.n_rel_total, 10) END AS BIGINT) AS ap_ppm
      FROM cum c JOIN totals t USING (query_id)
      GROUP BY c.query_id, t.n_rel_total
    )
    SELECT query_id, n_rel_total, ap_ppm,
           CAST((SELECT SUM(ap_ppm) FROM ap) // (SELECT COUNT(*) FROM ap)
             AS BIGINT) AS map_ppm
    FROM ap
    """,
    tags=("retrieval", "evaluation", "map", "ranking-quality"),
)
def q_map_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 (mean average precision) of the q_ndcg_at_10 ranking
    system over the same five term queries: AP@10 averages precision-
    at-k over the relevant positions in the top 10, normalized by
    min(total relevant, 10) — the recall-aware summary that completes
    the evaluation quartet NDCG (graded) / ERR (cascade) / MRR
    (first-hit) / MAP (all-hits).

    Exactness: relevance, positions, and the running relevant count
    are exact integers; each precision-at-k is a truncating ppm
    division, AP one more truncating division by min(R, 10), and the
    mean over queries a final truncating division — every column
    hashes.

    Scale: |queries| broadcast onto one corpus scan; the per-query
    ranking window cuts at 10 (WindowGroupLimit heap); the relevant
    totals are one map-side-combinable aggregate; reductions are
    |queries| rows."""
    d = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        list(_NDCG_QUERIES), "query_id int, t1 string, t2 string"
    )
    judged = d.crossJoin(F.broadcast(q)).select(
        "query_id",
        "doc_id",
        "n_chars",
        F.expr(
            "(CASE WHEN ' ' || text || ' ' LIKE '% ' || t1 || ' %'"
            " THEN 1 ELSE 0 END"
            " + CASE WHEN ' ' || text || ' ' LIKE '% ' || t2 || ' %'"
            " THEN 1 ELSE 0 END)"
        ).alias("rel"),
    )
    totals = judged.groupBy("query_id").agg(
        F.sum(F.when(F.col("rel") >= 1, 1).otherwise(0))
        .cast("long")
        .alias("n_rel_total")
    )
    w_sys = Window.partitionBy("query_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    w_cum = Window.partitionBy("query_id").orderBy("pos")
    cum = (
        judged.withColumn("pos", F.row_number().over(w_sys))
        .filter(F.col("pos") <= 10)
        .withColumn(
            "cum_rel",
            F.sum(F.when(F.col("rel") >= 1, 1).otherwise(0)).over(w_cum),
        )
    )
    ap = (
        cum.join(F.broadcast(totals), "query_id")
        .groupBy("query_id", "n_rel_total")
        .agg(
            F.expr(
                "CAST(CASE WHEN n_rel_total = 0 THEN 0"
                " ELSE SUM(CASE WHEN rel >= 1"
                " THEN (1000000 * cum_rel) div pos ELSE 0 END)"
                " div LEAST(n_rel_total, 10) END AS BIGINT)"
            ).alias("ap_ppm")
        )
    )
    mean = ap.agg(
        F.expr("CAST(SUM(ap_ppm) div COUNT(*) AS BIGINT)").alias("map_ppm")
    )
    return ap.crossJoin(F.broadcast(mean)).select(
        "query_id", "n_rel_total", "ap_ppm", "map_ppm"
    )


# ---------------------------------------------------------------------
# q_bm25_parameter_curve (round 8)
# ---------------------------------------------------------------------

# (label, k1, b): the default, the low-saturation/low-normalization
# corner (short-doc corpora), and the high-saturation corner. Labels
# sort deterministically.
_BM25_COMBOS = (
    ("a_default_k12_b75", "1.2", "0.75"),
    ("b_shortfield_k09_b40", "0.9", "0.40"),
    ("c_highsat_k20_b75", "2.0", "0.75"),
)
_BM25_DEFAULT_COMBO = "a_default_k12_b75"


def _bm25_curve_oracle() -> str:
    per_combo = []
    for label, k1, b in _BM25_COMBOS:
        per_combo.append(f"""
    scored_{label} AS (
      SELECT idf.query_id, tf.doc_id,
             CAST(ROUND(CAST(idf.idf_mnats AS DOUBLE)
                        * ((CAST(tf.tf AS DOUBLE) * ({k1} + 1.0))
                           / (CAST(tf.tf AS DOUBLE)
                              + {k1} * ((1.0 - {b})
                                        + {b} * (CAST(dl.dl AS DOUBLE)
                                                 / (CAST(stats.sum_dl AS DOUBLE)
                                                    / CAST(stats.n_docs AS DOUBLE))))))
                   ) AS BIGINT) AS term_score_mnats
      FROM idf JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    ),
    top_{label} AS (
      SELECT '{label}' AS combo, query_id, doc_id,
             CAST(SUM(term_score_mnats) AS BIGINT) AS score_mnats,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY SUM(term_score_mnats) DESC, doc_id)
               AS BIGINT) AS rnk
      FROM scored_{label} GROUP BY query_id, doc_id
      QUALIFY rnk <= {_BM25_K}
    )""")
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM top_{label}" for label, _, _ in _BM25_COMBOS
    )
    return f"""
    WITH {_BM25_CTES},
    {",".join(per_combo)},
    allt AS ({union}),
    ovl AS (
      SELECT a.combo, a.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
      FROM allt a
      JOIN allt d ON d.combo = '{_BM25_DEFAULT_COMBO}'
                 AND d.query_id = a.query_id AND d.doc_id = a.doc_id
      GROUP BY a.combo, a.query_id
    )
    SELECT t.combo, t.query_id, t.rnk, t.doc_id, t.score_mnats,
           o.n_overlap AS overlap_with_default
    FROM allt t JOIN ovl o ON o.combo = t.combo
                          AND o.query_id = t.query_id
    """


@query(
    "q_bm25_parameter_curve",
    oracle=_bm25_curve_oracle(),
    tags=("retrieval", "bm25", "parameter-curve", "ranking"),
)
def q_bm25_parameter_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1, b) sensitivity curve: the SAME inverted index scored
    at three parameter corners — the default (1.2, 0.75), the
    low-saturation/low-length-normalization corner (0.9, 0.40, the
    short-field setting), and the high-saturation corner (2.0, 0.75)
    — with each combo's top-{_BM25_K} per query and its overlap
    against the default ranking. The retrieval member of the measured
    parameter-dial family (LSH bands, Bloom bits/key, HLL rsd, CMS
    width): the overlap column IS the tuning readout — how much does
    the ranking actually move when k1/b move.

    Exactness: the q_bm25_topk treatment per combo — integer micro-nat
    idf, the saturation factor written with the same double
    association in both engines, exact integer score sums, fully
    tie-broken ranks; overlap counts are exact.

    Scale: the index (tf, dl — corpus-proportional) is built ONCE and
    checkpointed; each combo reuses it map-side (scoring is a
    projection over the posting join), so three combos cost one index
    build plus three cheap scoring passes — the whole point of
    separating index construction from parameter choice."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(words()).alias("term")
    ).filter(F.col("term") != "")
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = (
        tok.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dl"))
        .localCheckpoint(eager=False)
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterm = _bm25_queries_df(spark).select(
        "query_id", F.explode(F.split("query_text", " ")).alias("term")
    )
    idf = (
        F.broadcast(qterm)
        .join(df, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "term",
            F.expr(
                "CAST(ROUND(ln(1.0 + (CAST(n_docs AS DOUBLE)"
                " - CAST(df AS DOUBLE) + 0.5)"
                " / (CAST(df AS DOUBLE) + 0.5)) * 1000000) AS BIGINT)"
            ).alias("idf_mnats"),
        )
    )
    tops = []
    for label, k1, b in _BM25_COMBOS:
        scored = (
            F.broadcast(idf)
            .join(tf, "term")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .select(
                "query_id",
                "doc_id",
                F.expr(
                    f"CAST(ROUND(CAST(idf_mnats AS DOUBLE)"
                    f" * ((CAST(tf AS DOUBLE) * ({k1} + 1.0))"
                    f" / (CAST(tf AS DOUBLE)"
                    f" + {k1} * ((1.0 - {b})"
                    f" + {b} * (CAST(dl AS DOUBLE)"
                    f" / (CAST(sum_dl AS DOUBLE)"
                    f" / CAST(n_docs AS DOUBLE))))))"
                    f") AS BIGINT)"
                ).alias("term_score_mnats"),
            )
        )
        ds = scored.groupBy("query_id", "doc_id").agg(
            F.sum("term_score_mnats").alias("score_mnats")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score_mnats"), "doc_id"
        )
        tops.append(
            ds.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= _BM25_K)
            .select(
                F.lit(label).alias("combo"),
                "query_id",
                "doc_id",
                "score_mnats",
                "rnk",
            )
        )
    allt = tops[0]
    for t in tops[1:]:
        allt = allt.unionByName(t)
    allt = allt.localCheckpoint(eager=False)
    default = allt.filter(F.col("combo") == _BM25_DEFAULT_COMBO).select(
        F.col("query_id").alias("d_qid"), F.col("doc_id").alias("d_doc")
    )
    ovl = (
        allt.join(
            F.broadcast(default),
            (F.col("query_id") == F.col("d_qid"))
            & (F.col("doc_id") == F.col("d_doc")),
        )
        .groupBy("combo", "query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .select(
            F.col("combo").alias("o_combo"),
            F.col("query_id").alias("o_qid"),
            "n_overlap",
        )
    )
    return (
        allt.join(
            F.broadcast(ovl),
            (F.col("combo") == F.col("o_combo"))
            & (F.col("query_id") == F.col("o_qid")),
        )
        .select(
            "combo",
            "query_id",
            "rnk",
            "doc_id",
            "score_mnats",
            F.col("n_overlap").alias("overlap_with_default"),
        )
    )


# ---------------------------------------------------------------------
# q_rouge_reference (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_rouge_reference",
    oracle="""
    WITH ref AS (
      SELECT lang, arg_max(doc_id, n_chars * 1000000000 + doc_id)
               AS ref_id
      FROM documents GROUP BY lang
    ),
    tf AS (
      SELECT doc_id, lang, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM documents,
           unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS t(tok)
      GROUP BY 1, 2, 3
    ),
    rtf AS (
      SELECT ref.lang, tf.tok, tf.tf AS rtf
      FROM tf JOIN ref ON tf.doc_id = ref.ref_id
    ),
    ov AS (
      SELECT tf.doc_id, tf.lang,
             CAST(SUM(LEAST(tf.tf, rtf.rtf)) AS BIGINT) AS overlap
      FROM tf JOIN rtf ON rtf.lang = tf.lang AND rtf.tok = tf.tok
      GROUP BY 1, 2
    ),
    lens AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len FROM tf GROUP BY doc_id
    ),
    rlen AS (
      SELECT lang, CAST(SUM(rtf) AS BIGINT) AS rlen FROM rtf GROUP BY lang
    ),
    sc AS (
      SELECT ov.lang, ov.doc_id,
             (1000000 * ov.overlap) // lens.len AS p_ppm,
             (1000000 * ov.overlap) // rlen.rlen AS r_ppm,
             (2000000 * ov.overlap) // (lens.len + rlen.rlen) AS f1_ppm
      FROM ov JOIN lens USING (doc_id) JOIN rlen USING (lang)
      JOIN ref ON ref.lang = ov.lang AND ov.doc_id <> ref.ref_id
    )
    SELECT lang, doc_id, p_ppm, r_ppm, f1_ppm
    FROM sc
    QUALIFY row_number() OVER (PARTITION BY lang
                               ORDER BY f1_ppm DESC, doc_id) <= 3
    """,
    tags=("retrieval", "rouge", "overlap", "evaluation"),
)
def q_rouge_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 overlap profile against a per-language REFERENCE
    document (the longest doc, deterministic (n_chars, doc_id)
    argmax): unigram-multiset precision, recall, and F1 for every
    other doc in the language, top-3 per language by F1. The
    summarization-eval member of the overlap family — clipped
    COUNT overlap sum min(tf, tf_ref), which Jaccard
    (q_minhash_lsh's verify) and containment (q_minhash_containment)
    both discard by going set-valued. All three scores are single
    truncating ppm divisions of exact counts.

    Scale: term frequencies are one (doc, token) aggregate; the
    reference side is |langs| x vocab rows and BROADCASTS into the
    overlap join, so the corpus-sized side shuffles once by (lang,
    token) — never doc x doc. Per-language top-3 is a lang-keyed
    rank window over the scored frame."""
    d = load_table(spark, sf_dir, "documents")
    ref = d.groupBy("lang").agg(
        F.expr(
            "max_by(doc_id, n_chars * 1000000000 + doc_id)"
        ).alias("ref_id")
    ).select(F.col("lang").alias("ref_lang"), "ref_id")
    tf = (
        d.select(
            "doc_id",
            "lang",
            F.explode(tokens()).alias("tok"),
        )
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    rtf = (
        tf.join(F.broadcast(ref), F.col("doc_id") == F.col("ref_id"))
        .select(
            F.col("ref_lang").alias("rlang"),
            F.col("tok").alias("rtok"),
            F.col("tf").alias("rtf"),
        )
    )
    ov = (
        tf.join(
            F.broadcast(rtf),
            (F.col("rlang") == F.col("lang"))
            & (F.col("rtok") == F.col("tok")),
        )
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.least(F.col("tf"), F.col("rtf"))).alias("overlap"))
    )
    lens = tf.groupBy("doc_id").agg(F.sum("tf").alias("len"))
    rlen = rtf.groupBy("rlang").agg(F.sum("rtf").alias("rlen"))
    sc = (
        ov.join(lens, "doc_id")
        .join(F.broadcast(rlen), F.col("rlang") == F.col("lang"))
        .join(F.broadcast(ref), F.col("ref_lang") == F.col("lang"))
        .filter(F.col("doc_id") != F.col("ref_id"))
        .select(
            "lang",
            "doc_id",
            F.expr("(1000000 * overlap) div len").alias("p_ppm"),
            F.expr("(1000000 * overlap) div rlen").alias("r_ppm"),
            F.expr("(2000000 * overlap) div (len + rlen)").alias("f1_ppm"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("f1_ppm"), "doc_id")
    return (
        sc.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )

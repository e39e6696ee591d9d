"""Distributed Naive Bayes language identification — the fastText-/
langid-style "train on the corpus, classify the corpus" loop expressed
as pure relational algebra, with the whole trained model living in
keyed tables instead of driver memory.

Add-one-smoothed multinomial NB: score(doc, L) =
    ln P(L) + sum over tokens t of ln((c(L,t)+1) / (T_L + V))
The unseen-token mass is factored out so the scoring join is INNER on
the observed (term, lang) counts only:
    score = prior(L) + n_tokens(doc) * unseen(L)
            + sum over matched t of [logp(L,t) - unseen(L)]
— no |docs| x |vocab| grid ever materializes; each token fans out to
at most |langs| model rows in a term-keyed join.

Cross-engine exactness: every ln is quantized to integer micro-nats at
MODEL granularity (once per (lang, term) / per lang — the BM25 idf
precedent), so per-document scores are exact BIGINT sums, argmax is
deterministic under (score DESC, lang) ordering, and the confusion
matrix hashes exactly.

Scale: the model build is two hash aggregates over the token scan
(map-side partials); the scoring join is keyed on term (shuffle ~
token occurrences x langs-per-term); the per-(doc, lang) reduction and
the argmax window share the doc_id key; the vocabulary-size scalar and
5-row per-lang tables broadcast. Works unchanged when "lang" is any
label column and "term" any feature extractor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textops import tokens, words
from ..registry import query
from ..sources.loader import load_table

_LANGS = ("de", "en", "es", "fr", "zh")


# Shared oracle CTE chain: tokenize -> train (totals, vocab, smoothed
# model deltas, priors) -> score -> argmax prediction per document.
# Reused verbatim by the confusion-matrix and precision/recall queries.
_NB_CTES = """
    tok AS MATERIALIZED (
      SELECT doc_id, lang AS lang_true, t AS term
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
            FROM documents)
      WHERE t <> ''
    ),
    lt AS MATERIALIZED (
      SELECT lang_true AS lang, CAST(COUNT(*) AS BIGINT) AS t_total
      FROM tok GROUP BY lang_true
    ),
    vv AS MATERIALIZED (
      SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM tok
    ),
    u AS MATERIALIZED (
      SELECT lang, t_total,
             CAST(ROUND(ln(1.0 / CAST(t_total + (SELECT v FROM vv)
                                      AS DOUBLE)) * 1000000) AS BIGINT)
               AS u_mnats
      FROM lt
    ),
    cnts AS MATERIALIZED (
      SELECT lang_true AS lang, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY lang_true, term
    ),
    delta AS MATERIALIZED (
      SELECT cnts.lang, cnts.term,
             CAST(ROUND(ln((CAST(c AS DOUBLE) + 1.0)
                           / CAST(u.t_total + (SELECT v FROM vv)
                                  AS DOUBLE)) * 1000000) AS BIGINT)
               - u.u_mnats AS d
      FROM cnts JOIN u USING (lang)
    ),
    nd AS MATERIALIZED (
      SELECT doc_id, MIN(lang_true) AS lang_true,
             CAST(COUNT(*) AS BIGINT) AS ntok
      FROM tok GROUP BY doc_id
    ),
    pri AS MATERIALIZED (
      SELECT lang_true AS lang,
             CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE)
                           / CAST(SUM(COUNT(*)) OVER () AS DOUBLE))
                        * 1000000) AS BIGINT) AS p_mnats
      FROM nd GROUP BY lang_true
    ),
    grid AS MATERIALIZED (
      SELECT nd.doc_id, nd.lang_true, nd.ntok, l.lang
      FROM nd CROSS JOIN (VALUES ('de'), ('en'), ('es'), ('fr'), ('zh'))
                           l(lang)
    ),
    matched AS MATERIALIZED (
      SELECT tok.doc_id, delta.lang, CAST(SUM(delta.d) AS BIGINT) AS dsum
      FROM tok JOIN delta ON delta.term = tok.term
      GROUP BY tok.doc_id, delta.lang
    ),
    scores AS MATERIALIZED (
      SELECT g.doc_id, g.lang_true, g.lang,
             pri.p_mnats + g.ntok * u.u_mnats + COALESCE(m.dsum, 0)
               AS score
      FROM grid g
      JOIN pri USING (lang)
      JOIN u USING (lang)
      LEFT JOIN matched m ON m.doc_id = g.doc_id AND m.lang = g.lang
    ),
    ranked AS MATERIALIZED (
      SELECT doc_id, lang_true, lang AS lang_pred, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS r
      FROM scores
    ),
    pred AS MATERIALIZED (
      SELECT doc_id, lang_true, lang_pred, score FROM ranked WHERE r = 1
    )"""


@query(
    "q_naive_bayes_langid",
    oracle=f"""
    WITH {_NB_CTES}
    SELECT lang_true, lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score) AS BIGINT) AS sum_score
    FROM pred
    GROUP BY lang_true, lang_pred
    """,
    tags=("classify", "naive-bayes", "language-id", "text", "llm-pipeline"),
)
def q_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train an add-one-smoothed multinomial Naive Bayes language model
    on the corpus tokens and classify every document, reporting the
    true-vs-predicted confusion matrix with each cell's exact integer
    score mass. The unseen-token mass is factored out so scoring is an
    INNER term-keyed join against the observed model rows (see module
    docstring); candidate languages attach by exploding a literal
    array (map-side — no doc x lang join). The only nested-loop is the
    broadcast 1-row vocabulary-size scalar stitched onto the 5-row
    per-language totals."""
    pred = _nb_predictions(spark, sf_dir)
    return pred.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score").alias("sum_score"),
    )


def _nb_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NB argmax prediction (doc_id, lang_true, lang_pred,
    score) — the Spark face of _NB_CTES' `pred`."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id",
            F.col("lang").alias("lang_true"),
            F.explode(words()).alias("term"),
        ).filter(F.col("term") != "")
    )
    lt = tok.groupBy(F.col("lang_true").alias("lang")).agg(
        F.count(F.lit(1)).alias("t_total")
    )
    vv = tok.agg(F.countDistinct("term").alias("v"))
    u = lt.crossJoin(F.broadcast(vv)).select(
        "lang",
        "t_total",
        "v",
        F.expr(
            "CAST(ROUND(ln(1.0 / CAST(t_total + v AS DOUBLE)) * 1000000)"
            " AS BIGINT)"
        ).alias("u_mnats"),
    )
    cnts = tok.groupBy(F.col("lang_true").alias("lang"), "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    delta = cnts.join(F.broadcast(u), "lang").select(
        "lang",
        "term",
        (
            F.expr(
                "CAST(ROUND(ln((CAST(c AS DOUBLE) + 1.0)"
                " / CAST(t_total + v AS DOUBLE)) * 1000000) AS BIGINT)"
            )
            - F.col("u_mnats")
        ).alias("d"),
    )
    nd = tok.groupBy("doc_id").agg(
        F.min("lang_true").alias("lang_true"),
        F.count(F.lit(1)).alias("ntok"),
    )
    pri = nd.groupBy(F.col("lang_true").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs_lang")
    ).select(
        "lang",
        F.expr(
            "CAST(ROUND(ln(CAST(n_docs_lang AS DOUBLE)"
            " / CAST(sum(n_docs_lang) OVER () AS DOUBLE)) * 1000000)"
            " AS BIGINT)"
        ).alias("p_mnats"),
    )
    grid = nd.select(
        "doc_id",
        "lang_true",
        "ntok",
        F.explode(F.array(*[F.lit(x) for x in _LANGS])).alias("lang"),
    )
    matched = (
        tok.join(delta, "term")
        .groupBy("doc_id", "lang")
        .agg(F.sum("d").alias("dsum"))
    )
    scores = (
        grid.join(F.broadcast(pri), "lang")
        .join(F.broadcast(u.select("lang", "u_mnats")), "lang")
        .join(matched, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "lang_true",
            "lang",
            (
                F.col("p_mnats")
                + F.col("ntok") * F.col("u_mnats")
                + F.coalesce(F.col("dsum"), F.lit(0))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "lang")
    return (
        scores.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "doc_id", "lang_true", F.col("lang").alias("lang_pred"), "score"
        )
    )


@query(
    "q_precision_recall_f1",
    oracle=f"""
    WITH {_NB_CTES},
    cm AS MATERIALIZED (
      SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY lang_true, lang_pred
    ),
    per_class AS (
      SELECT cls, CAST(SUM(tp) AS BIGINT) AS tp,
             CAST(SUM(fp) AS BIGINT) AS fp, CAST(SUM(fn) AS BIGINT) AS fn
      FROM (
        SELECT lang_pred AS cls,
               CASE WHEN lang_true = lang_pred THEN n ELSE 0 END AS tp,
               CASE WHEN lang_true <> lang_pred THEN n ELSE 0 END AS fp,
               0 AS fn
        FROM cm
        UNION ALL
        SELECT lang_true AS cls, 0, 0,
               CASE WHEN lang_true <> lang_pred THEN n ELSE 0 END
        FROM cm
      )
      GROUP BY cls
    )
    SELECT cls AS lang, tp, fp, fn,
           CASE WHEN tp + fp = 0 THEN NULL
                ELSE CAST((1000000 * tp) // (tp + fp) AS BIGINT)
           END AS precision_ppm,
           CASE WHEN tp + fn = 0 THEN NULL
                ELSE CAST((1000000 * tp) // (tp + fn) AS BIGINT)
           END AS recall_ppm,
           CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
                ELSE CAST((2000000 * tp) // (2 * tp + fp + fn) AS BIGINT)
           END AS f1_ppm
    FROM per_class
    """,
    tags=("classify", "evaluation", "precision-recall", "llm-pipeline"),
)
def q_precision_recall_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of the Naive Bayes language
    classifier, in exact integer ppm: tp/fp/fn come from the shared
    prediction pipeline's confusion matrix, and every ratio — including
    F1 = 2tp/(2tp+fp+fn), which needs no float harmonic mean in this
    form — is a truncating integer division with zero-denominator
    guards. A class never predicted (or never present) yields NULL for
    the undefined ratio instead of a fabricated 0.

    Scale: everything after the classifier is arithmetic on the
    |langs|^2-cell confusion matrix; the union+regroup per-class
    reduction touches at most 2 * |langs|^2 tiny rows."""
    cm = (
        _nb_predictions(spark, sf_dir)
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tp_fp = cm.select(
        F.col("lang_pred").alias("cls"),
        F.when(F.col("lang_true") == F.col("lang_pred"), F.col("n"))
        .otherwise(F.lit(0))
        .alias("tp"),
        F.when(F.col("lang_true") != F.col("lang_pred"), F.col("n"))
        .otherwise(F.lit(0))
        .alias("fp"),
        F.lit(0).cast("long").alias("fn"),
    )
    fn_side = cm.select(
        F.col("lang_true").alias("cls"),
        F.lit(0).cast("long").alias("tp"),
        F.lit(0).cast("long").alias("fp"),
        F.when(F.col("lang_true") != F.col("lang_pred"), F.col("n"))
        .otherwise(F.lit(0))
        .alias("fn"),
    )
    per_class = (
        tp_fp.unionByName(fn_side)
        .groupBy("cls")
        .agg(
            F.sum("tp").alias("tp"),
            F.sum("fp").alias("fp"),
            F.sum("fn").alias("fn"),
        )
    )
    return per_class.select(
        F.col("cls").alias("lang"),
        "tp",
        "fp",
        "fn",
        F.when(F.col("tp") + F.col("fp") == 0, None)
        .otherwise(F.expr("(1000000 * tp) div (tp + fp)"))
        .cast("long")
        .alias("precision_ppm"),
        F.when(F.col("tp") + F.col("fn") == 0, None)
        .otherwise(F.expr("(1000000 * tp) div (tp + fn)"))
        .cast("long")
        .alias("recall_ppm"),
        F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, None)
        .otherwise(F.expr("(2000000 * tp) div (2 * tp + fp + fn)"))
        .cast("long")
        .alias("f1_ppm"),
    )


@query(
    "q_mcnemar_test",
    oracle="""
    WITH src AS MATERIALIZED (
      SELECT source,
             (2 * SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
              >= COUNT(*)) AS pred_a
      FROM documents GROUP BY source
    ),
    med AS (  -- exact LOWER median by rank (interpolation banned)
      SELECT n_chars AS med_chars
      FROM (
        SELECT n_chars,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
               COUNT(*) OVER () AS cnt
        FROM documents
      ) WHERE rn = (cnt + 1) // 2
    ),
    paired AS (
      SELECT (d.lang = 'en') AS y,
             s.pred_a,
             (d.n_chars >= m.med_chars) AS pred_b
      FROM documents d
      JOIN src s ON s.source = d.source
      CROSS JOIN med m
    ),
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN pred_a = y AND pred_b <> y
                      THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN pred_a <> y AND pred_b = y
                      THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM paired
    )
    SELECT n, b, c,
           CAST(CASE WHEN b + c > 0
                THEN (1000 * (b - c) * (b - c)) // (b + c)
                ELSE 0 END AS BIGINT) AS chi2_milli,
           (CASE WHEN b + c > 0
                 THEN (1000 * (b - c) * (b - c)) // (b + c)
                 ELSE 0 END) > 3841 AS models_differ
    FROM cells
    """,
    tags=("classify", "mcnemar", "paired-test", "evaluation"),
)
def q_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test for comparing two classifiers on the SAME
    examples (predicting lang = en): classifier A votes by its
    source's majority language, classifier B by document length at or
    above the corpus median (the exact LOWER order statistic from the
    length histogram — engine MEDIAN interpolates even-count middles
    and the engines round the .5 differently). Only the DISAGREEMENT cells matter — b (A
    right, B wrong) and c (A wrong, B right) — and the statistic
    (b-c)^2/(b+c) in exact milli-units against the chi-square(1) 5%
    bar of 3.841. This is the right test when two models share an
    eval set (accuracy deltas ignore pairing and overstate noise);
    the integer guard returns 0 when b + c = 0.

    Scale: the source model is a broadcast |sources|-row table, the
    median is a 1-row stitch (allowlisted), and the whole test is one
    conditional aggregate over the scan."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.expr(
            "(2 * SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)"
            " >= COUNT(*)) AS pred_a"
        )
    )
    from pyspark.sql import Window as W

    # Exact lower-median via the length HISTOGRAM, not a row_number
    # over every document (round-7 plan lint: that window held the
    # whole corpus in one task). The cumulative runs over |distinct
    # lengths| rows — value-domain-bounded, the q_auc_mann_whitney
    # precedent — and the lower median is the smallest length whose
    # cumulative count reaches ceil(n/2).
    h = d.groupBy("n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy()
    med = (
        h.select(
            "n_chars",
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_all).alias("n_total"),
        )
        .filter(F.expr("cum >= (n_total + 1) div 2"))
        .agg(F.min("n_chars").alias("med_chars"))
    )
    paired = (
        d.join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(med))
        .select(
            F.expr("(lang = 'en')").alias("y"),
            "pred_a",
            F.expr("(n_chars >= med_chars)").alias("pred_b"),
        )
    )
    agg = paired.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.expr("CASE WHEN pred_a = y AND pred_b <> y THEN 1 ELSE 0 END")
        ).alias("b"),
        F.sum(
            F.expr("CASE WHEN pred_a <> y AND pred_b = y THEN 1 ELSE 0 END")
        ).alias("c"),
    )
    return agg.select(
        "n",
        "b",
        "c",
        F.expr(
            "CAST(CASE WHEN b + c > 0"
            " THEN (1000 * (b - c) * (b - c)) div (b + c)"
            " ELSE 0 END AS BIGINT)"
        ).alias("chi2_milli"),
        F.expr(
            "CASE WHEN b + c > 0"
            " THEN (1000 * (b - c) * (b - c)) div (b + c)"
            " ELSE 0 END > 3841"
        ).alias("models_differ"),
    )


# ---------------------------------------------------------------------
# q_fleiss_kappa (round 8)
# ---------------------------------------------------------------------


@query(
    "q_fleiss_kappa",
    oracle="""
    WITH votes AS (
      SELECT doc_id,
             (CASE WHEN len(list_filter(string_split(text, ' '),
                                        t -> t <> '')) BETWEEN 50 AND 100000
                   THEN 1 ELSE 0 END
              + CASE WHEN len(list_distinct(list_filter(
                       string_split(text, ' '),
                       t -> t IN ('the','and','of','to','a','in','is'))))
                        >= 2
                     THEN 1 ELSE 0 END
              + CASE WHEN 5 * len(list_filter(string_split(text, ' '),
                                              t -> regexp_matches(t, '[a-z]')))
                          >= 4 * len(list_filter(string_split(text, ' '),
                                                 t -> t <> ''))
                     THEN 1 ELSE 0 END) AS n_pass
      FROM documents
    ),
    per_item AS (
      SELECT doc_id, n_pass,
             -- P_i * 6 = n_pass^2 + (3-n_pass)^2 - 3  (n = 3 raters)
             CAST(n_pass * n_pass + (3 - n_pass) * (3 - n_pass) - 3
               AS BIGINT) AS p_i6
      FROM votes
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(p_i6) AS BIGINT) AS s6,
             CAST(SUM(n_pass) AS BIGINT) AS c_pass
      FROM per_item
    )
    SELECT n_items, s6, c_pass,
           CAST(3 * n_items - c_pass AS BIGINT) AS c_fail,
           CAST(ROUND(1000.0
             * (3.0 * CAST(n_items AS DOUBLE) * CAST(s6 AS DOUBLE)
                - 2.0 * (CAST(c_pass AS DOUBLE) * CAST(c_pass AS DOUBLE)
                         + CAST(3 * n_items - c_pass AS DOUBLE)
                           * CAST(3 * n_items - c_pass AS DOUBLE)))
             / (2.0 * (9.0 * CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)
                - (CAST(c_pass AS DOUBLE) * CAST(c_pass AS DOUBLE)
                   + CAST(3 * n_items - c_pass AS DOUBLE)
                     * CAST(3 * n_items - c_pass AS DOUBLE)))))
             AS BIGINT) AS kappa_milli
    FROM agg
    """,
    tags=("stats", "agreement", "fleiss-kappa", "labeling", "llm-pipeline"),
)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa agreement among THREE deterministic quality
    raters (word-count gate, stopword gate, alpha-ratio gate — integer
    predicates shared with the Gopher battery) voting pass/fail per
    document — the multi-rater generalization of q_cohens_kappa and
    the statistic a labeling pipeline reads before trusting
    majority-vote labels (RLHF preference data, eval judgments):
    kappa near 0 means the raters' agreement is what chance predicts.

    Exactness: with n=3 raters and 2 categories, per-item agreement
    P_i has exact denominator 6 (P_i*6 = n_pass^2 + n_fail^2 - 3) and
    the closed form kappa = (3*N*S6 - 2*C) / (2*(9*N^2 - C)) with
    C = c_pass^2 + c_fail^2 is a ratio of exact integers — evaluated
    as ONE shared-tree double expression, milli-quantized.

    Scale: the three votes are map-side HOFs on the scan; the
    reduction is a single 1-row aggregate. Nothing shuffles but three
    longs per partition."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_words = F.size(toks)
    vote1 = F.when(n_words.between(50, 100000), 1).otherwise(0)
    stop = F.array_distinct(
        F.filter(
            toks,
            lambda t: t.isin("the", "and", "of", "to", "a", "in", "is"),
        )
    )
    vote2 = F.when(F.size(stop) >= 2, 1).otherwise(0)
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    vote3 = F.when(5 * n_alpha >= 4 * n_words, 1).otherwise(0)
    votes = d.select((vote1 + vote2 + vote3).alias("n_pass"))
    per_item = votes.select(
        "n_pass",
        (
            F.col("n_pass") * F.col("n_pass")
            + (3 - F.col("n_pass")) * (3 - F.col("n_pass"))
            - 3
        ).cast("long").alias("p_i6"),
    )
    agg = per_item.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("p_i6").alias("s6"),
        F.sum("n_pass").alias("c_pass"),
    )
    c_expr = (
        "(CAST(c_pass AS DOUBLE) * CAST(c_pass AS DOUBLE)"
        " + CAST(3 * n_items - c_pass AS DOUBLE)"
        " * CAST(3 * n_items - c_pass AS DOUBLE))"
    )
    kappa = (
        "CAST(ROUND(1000.0"
        f" * (3.0 * CAST(n_items AS DOUBLE) * CAST(s6 AS DOUBLE)"
        f" - 2.0 * {c_expr})"
        f" / (2.0 * (9.0 * CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)"
        f" - {c_expr}))) AS BIGINT)"
    )
    return agg.select(
        "n_items",
        "s6",
        "c_pass",
        (F.lit(3) * F.col("n_items") - F.col("c_pass"))
        .cast("long")
        .alias("c_fail"),
        F.expr(kappa).alias("kappa_milli"),
    )


# ---------------------------------------------------------------------
# q_cronbach_alpha (round 8)
# ---------------------------------------------------------------------


@query(
    "q_cronbach_alpha",
    oracle="""
    WITH votes AS (
      SELECT doc_id,
             CASE WHEN len(list_filter(string_split(text, ' '),
                                       t -> t <> '')) BETWEEN 50 AND 100000
                  THEN 1 ELSE 0 END AS v1,
             CASE WHEN len(list_distinct(list_filter(
                      string_split(text, ' '),
                      t -> t IN ('the','and','of','to','a','in','is'))))
                       >= 2
                  THEN 1 ELSE 0 END AS v2,
             CASE WHEN 5 * len(list_filter(string_split(text, ' '),
                                           t -> regexp_matches(t, '[a-z]')))
                       >= 4 * len(list_filter(string_split(text, ' '),
                                              t -> t <> ''))
                  THEN 1 ELSE 0 END AS v3
      FROM documents
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(v1) AS HUGEINT) AS s1,
             CAST(SUM(v2) AS HUGEINT) AS s2,
             CAST(SUM(v3) AS HUGEINT) AS s3,
             CAST(SUM(v1 + v2 + v3) AS HUGEINT) AS st,
             CAST(SUM((v1 + v2 + v3) * (v1 + v2 + v3)) AS HUGEINT) AS sst
      FROM votes
    )
    SELECT CAST(n AS BIGINT) AS n_items,
           CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
           CAST(s3 AS BIGINT) AS s3,
           CAST((3000 * ((n * sst - st * st)
                         - ((n * s1 - s1 * s1) + (n * s2 - s2 * s2)
                            + (n * s3 - s3 * s3))))
                // (2 * (n * sst - st * st)) AS BIGINT) AS alpha_milli
    FROM agg
    """,
    tags=("classify", "cronbach-alpha", "reliability", "rater-agreement"),
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha internal-consistency reliability of the THREE
    binary quality raters q_fleiss_kappa votes with (word-count gate,
    stopword gate, alpha-ratio gate): alpha = k/(k-1) * (1 - sum of
    item variances / variance of the total score). Completes the
    rater-reliability family — kappa/Fleiss measure AGREEMENT beyond
    chance per item, Kendall's W measures rank concordance, alpha
    measures whether the gates form one coherent scale (low alpha =
    the gates measure different things, which for a quality battery
    is by design worth KNOWING, not assuming).

    Exactness: with binary items every variance numerator
    (n*S - S^2, population convention) shares the n^2 denominator, so
    the denominators cancel and alpha_milli is one truncating integer
    division of exact wide-integer moments — the whole surface hashes.

    Scale: one map-side projection of the three gate votes (the
    q_fleiss_kappa expressions — shared semantics), one 1-row moment
    aggregate; nothing shuffles but six longs per partition."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_words = F.size(toks)
    v1 = F.when(n_words.between(50, 100000), 1).otherwise(0)
    stop = F.array_distinct(
        F.filter(
            toks,
            lambda t: t.isin("the", "and", "of", "to", "a", "in", "is"),
        )
    )
    v2 = F.when(F.size(stop) >= 2, 1).otherwise(0)
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    v3 = F.when(5 * n_alpha >= 4 * n_words, 1).otherwise(0)
    votes = d.select(v1.alias("v1"), v2.alias("v2"), v3.alias("v3"))
    agg = votes.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(SUM(v1) AS DECIMAL(38,0))").alias("s1"),
        F.expr("CAST(SUM(v2) AS DECIMAL(38,0))").alias("s2"),
        F.expr("CAST(SUM(v3) AS DECIMAL(38,0))").alias("s3"),
        F.expr("CAST(SUM(v1 + v2 + v3) AS DECIMAL(38,0))").alias("st"),
        F.expr(
            "CAST(SUM((v1 + v2 + v3) * (v1 + v2 + v3)) AS DECIMAL(38,0))"
        ).alias("sst"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_items"),
        F.col("s1").cast("long").alias("s1"),
        F.col("s2").cast("long").alias("s2"),
        F.col("s3").cast("long").alias("s3"),
        F.expr(
            "CAST((3000 * ((n * sst - st * st)"
            " - ((n * s1 - s1 * s1) + (n * s2 - s2 * s2)"
            " + (n * s3 - s3 * s3))))"
            " div (2 * (n * sst - st * st)) AS BIGINT)"
        ).alias("alpha_milli"),
    )


# ---------------------------------------------------------------------
# q_icc_reliability (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_icc_reliability",
    oracle="""
    WITH votes AS (
      SELECT
        (CASE WHEN len(list_filter(string_split(text, ' '),
                                   t -> t <> '')) BETWEEN 50 AND 100000
              THEN 1 ELSE 0 END
       + CASE WHEN len(list_distinct(list_filter(
                  string_split(text, ' '),
                  t -> t IN ('the','and','of','to','a','in','is')))) >= 2
              THEN 1 ELSE 0 END
       + CASE WHEN 5 * len(list_filter(string_split(text, ' '),
                                       t -> regexp_matches(t, '[a-z]')))
                   >= 4 * len(list_filter(string_split(text, ' '),
                                          t -> t <> ''))
              THEN 1 ELSE 0 END) AS r
      FROM documents
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(r) AS HUGEINT) AS t,
             CAST(SUM(r * r) AS HUGEINT) AS srr
      FROM votes
    )
    SELECT CAST(n AS BIGINT) AS n_docs, CAST(t AS BIGINT) AS total_passes,
           CAST((1000 * (2 * (n*srr - t*t) - (n - 1) * (3*t - srr)))
                // (2 * (n*srr - t*t) + 2 * (n - 1) * (3*t - srr))
                AS BIGINT) AS icc_milli
    FROM m
    """,
    tags=("classify", "icc", "reliability", "rater-agreement"),
)
def q_icc_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1,1) of the
    three binary quality gates — the variance-decomposition read of
    the same rater battery: what fraction of vote variance is
    BETWEEN documents (signal) rather than between gates within a
    document (disagreement)? Completes the reliability shelf —
    q_fleiss_kappa (chance-corrected agreement), q_cronbach_alpha
    (scale consistency), q_cochran_q (marginal homogeneity), ICC
    (variance share). With binary items both mean squares reduce to
    the row-total moments T and sum R_i^2: multiplying ICC =
    (MSB - MSW)/(MSB + (k-1)MSW) through by 6n(n-1) clears every
    denominator, so icc_milli is one truncating division of exact
    integers — the same (n, T, sum R^2) surface Cronbach hashes,
    decomposed the ANOVA way.

    Scale: one map-side vote projection, one 1-row moment aggregate."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_words = F.size(toks)
    v1 = F.when(n_words.between(50, 100000), 1).otherwise(0)
    stop = F.array_distinct(
        F.filter(
            toks,
            lambda t: t.isin("the", "and", "of", "to", "a", "in", "is"),
        )
    )
    v2 = F.when(F.size(stop) >= 2, 1).otherwise(0)
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    v3 = F.when(5 * n_alpha >= 4 * n_words, 1).otherwise(0)
    votes = d.select((v1 + v2 + v3).alias("r"))
    m = votes.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(SUM(r) AS DECIMAL(38,0))").alias("t"),
        F.expr("CAST(SUM(r * r) AS DECIMAL(38,0))").alias("srr"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("t").cast("long").alias("total_passes"),
        F.expr(
            "CAST((1000 * (2 * (n*srr - t*t) - (n - 1) * (3*t - srr)))"
            " div (2 * (n*srr - t*t) + 2 * (n - 1) * (3*t - srr))"
            " AS BIGINT)"
        ).alias("icc_milli"),
    )

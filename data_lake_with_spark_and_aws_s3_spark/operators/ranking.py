"""Rank-statistics family — Mann-Whitney AUC and Spearman rank
correlation, the two evaluation primitives every data-quality /
classifier-calibration pipeline leans on.

Cross-engine exactness: both statistics are functions of AVERAGE ranks,
which are half-integers under ties — so everything here works on
DOUBLED ranks, which are exact BIGINTs (a tied group occupying
positions c+1..c+t has average rank (2c+t+1)/2, i.e. doubled rank
2c+t+1). The hashed surface is the doubled-rank sums / exact integer
moments plus truncating-integer-division ppm scores (Spark `div` and
DuckDB `//` both truncate toward zero; all operands here are
non-negative anyway). Where a float builtin exists (corr), each engine
checks its OWN builtin against the closed form from the exact moments
and hashes only the agreement boolean (the stats.py pattern).

Scale shape: ranks are derived from the VALUE HISTOGRAM, not from a
global sort of the data — one hash aggregate builds per-value counts
(|distinct values| rows, bounded by the value domain, not the corpus),
a cumulative window over that small histogram assigns doubled ranks,
and a broadcast-sized join maps them back. No global data sort, no
single-partition window over raw rows: at 100 TB the histogram of
document lengths is still thousands of rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textops import tokens, words
from ..registry import query
from ..sources.loader import load_table

_TOL = 1e-9


@query(
    "q_auc_mann_whitney",
    oracle="""
    WITH h AS (
      SELECT n_chars AS x, lang, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY n_chars, lang
    ),
    sc AS (
      SELECT x, CAST(SUM(cnt) AS BIGINT) AS tot FROM h GROUP BY x
    ),
    rk AS (
      SELECT x,
             2 * CAST(COALESCE(SUM(tot) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) + tot + 1 AS r2
      FROM sc
    ),
    per_lang AS (
      SELECT h.lang,
             CAST(SUM(h.cnt) AS BIGINT) AS n_pos,
             CAST(SUM(h.cnt * rk.r2) AS BIGINT) AS r2_pos
      FROM h JOIN rk USING (x)
      GROUP BY h.lang
    )
    SELECT lang, n_pos,
           CAST(SUM(n_pos) OVER () - n_pos AS BIGINT) AS n_neg,
           r2_pos,
           CASE WHEN SUM(n_pos) OVER () - n_pos = 0 THEN NULL
                ELSE CAST((1000000 * (r2_pos - n_pos * (n_pos + 1)))
                          // (2 * n_pos * (SUM(n_pos) OVER () - n_pos))
                     AS BIGINT)
           END AS auc_ppm
    FROM per_lang
    """,
    tags=("stats", "ranking", "auc", "evaluation", "llm-pipeline"),
)
def q_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest AUC of document length as a language detector, per
    language: does n_chars separate lang=L docs from the rest? AUC is
    computed exactly via the Mann-Whitney U statistic with tie-corrected
    average ranks — doubled ranks keep every quantity a BIGINT, and
    auc_ppm is a truncating integer division, so the full surface
    hashes. Ranks come from the n_chars histogram (one hash aggregate +
    a window over |distinct lengths| rows), never a global data sort;
    the per-language reduction is a second small aggregate. The OVER ()
    total runs on the 5-row per-language frame."""
    d = load_table(spark, sf_dir, "documents")
    h = d.groupBy(F.col("n_chars").alias("x"), "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    sc = h.groupBy("x").agg(F.sum("cnt").alias("tot"))
    w_cum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    rk = sc.select(
        "x",
        (
            2 * F.coalesce(F.sum("tot").over(w_cum), F.lit(0))
            + F.col("tot")
            + 1
        ).alias("r2"),
    )
    per_lang = (
        h.join(rk, "x")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_pos"),
            F.sum(F.col("cnt") * F.col("r2")).alias("r2_pos"),
        )
    )
    w_all = Window.partitionBy()
    n_neg = (F.sum("n_pos").over(w_all) - F.col("n_pos")).alias("n_neg")
    return per_lang.select(
        "lang",
        "n_pos",
        n_neg,
        "r2_pos",
        F.when(F.sum("n_pos").over(w_all) - F.col("n_pos") == 0, None)
        .otherwise(
            F.expr(
                "(1000000 * (r2_pos - n_pos * (n_pos + 1)))"
                " div (2 * n_pos * (sum(n_pos) OVER () - n_pos))"
            )
        )
        .cast("long")
        .alias("auc_ppm"),
    )


_SPEARMAN_CORR = "((n_d * sxy_d - sx_d * sy_d) / sqrt((n_d * sxx_d - sx_d * sx_d) * (n_d * syy_d - sy_d * sy_d)))"


@query(
    "q_spearman_corr",
    oracle=f"""
    WITH base AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(n_chars AS BIGINT) AS x,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                  AS BIGINT) AS y
      FROM documents
    ),
    hx AS (
      SELECT lang, x, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM base GROUP BY lang, x
    ),
    rx AS (
      SELECT lang, x,
             2 * CAST(COALESCE(SUM(cnt) OVER (PARTITION BY lang ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) + cnt + 1 AS rx2
      FROM hx
    ),
    hy AS (
      SELECT lang, y, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM base GROUP BY lang, y
    ),
    ry AS (
      SELECT lang, y,
             2 * CAST(COALESCE(SUM(cnt) OVER (PARTITION BY lang ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) + cnt + 1 AS ry2
      FROM hy
    ),
    ranked AS (
      SELECT base.lang, rx.rx2, ry.ry2
      FROM base
      JOIN rx ON rx.lang = base.lang AND rx.x = base.x
      JOIN ry ON ry.lang = base.lang AND ry.y = base.y
    ),
    m AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rx2) AS BIGINT) AS sx,
             CAST(SUM(ry2) AS BIGINT) AS sy,
             CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
             CAST(SUM(ry2 * ry2) AS BIGINT) AS syy,
             CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy,
             corr(CAST(rx2 AS DOUBLE), CAST(ry2 AS DOUBLE)) AS b_corr
      FROM ranked GROUP BY lang
    )
    SELECT lang, n, sx, sy, sxx, syy, sxy,
           CAST(n * sxy - sx * sy AS BIGINT) AS num,
           CAST(n * sxx - sx * sx AS BIGINT) AS denx,
           CAST(n * syy - sy * sy AS BIGINT) AS deny,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN TRUE
                ELSE abs(b_corr - {_SPEARMAN_CORR})
                     <= {_TOL} * (1.0 + abs({_SPEARMAN_CORR}))
           END AS corr_ok
    FROM (
      SELECT *,
             CAST(n AS DOUBLE) AS n_d, CAST(sx AS DOUBLE) AS sx_d,
             CAST(sy AS DOUBLE) AS sy_d, CAST(sxx AS DOUBLE) AS sxx_d,
             CAST(syy AS DOUBLE) AS syy_d, CAST(sxy AS DOUBLE) AS sxy_d
      FROM m
    )
    """,
    tags=("stats", "ranking", "spearman", "correlation"),
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Spearman rank correlation between document length
    (n_chars) and token count — monotone-association diagnostics over a
    corpus. Tie-corrected average ranks are carried as exact doubled
    BIGINTs built from per-language value histograms (hash aggregate +
    cumulative window over histogram rows, broadcast-sized join back);
    the hashed surface is the exact integer rank moments and the
    Pearson-on-ranks numerator/denominators, plus a boolean proving
    each engine's own corr() builtin matches the closed form from
    those moments (floats themselves never enter the hash — the
    stats.py pattern)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("x"),
        F.size(tokens()).cast("bigint").alias("y"),
    )

    def rank_map(col: str, out: str) -> DataFrame:
        h = base.groupBy("lang", col).agg(F.count(F.lit(1)).alias("cnt"))
        w = (
            Window.partitionBy("lang")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return h.select(
            "lang",
            col,
            (
                2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias(out),
        )

    ranked = (
        base.join(rank_map("x", "rx2"), ["lang", "x"])
        .join(rank_map("y", "ry2"), ["lang", "y"])
        .select("lang", "rx2", "ry2")
    )
    m = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("sxy"),
        F.corr(
            F.col("rx2").cast("double"), F.col("ry2").cast("double")
        ).alias("b_corr"),
    )
    md = m.withColumns(
        {
            "n_d": F.col("n").cast("double"),
            "sx_d": F.col("sx").cast("double"),
            "sy_d": F.col("sy").cast("double"),
            "sxx_d": F.col("sxx").cast("double"),
            "syy_d": F.col("syy").cast("double"),
            "sxy_d": F.col("sxy").cast("double"),
        }
    )
    return md.select(
        "lang",
        "n",
        "sx",
        "sy",
        "sxx",
        "syy",
        "sxy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("long")
        .alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("long")
        .alias("denx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("long")
        .alias("deny"),
        F.expr(
            f"CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0"
            f" THEN TRUE ELSE abs(b_corr - {_SPEARMAN_CORR})"
            f" <= {_TOL} * (1.0 + abs({_SPEARMAN_CORR})) END"
        ).alias("corr_ok"),
    )


_ZIPF_SLOPE = "((n_d * sxy_d - sx_d * sy_d) / (n_d * sxx_d - sx_d * sx_d))"


@query(
    "q_zipf_slope",
    oracle=f"""
    WITH tf AS (
      SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      WHERE t <> ''
      GROUP BY t
    ),
    rk AS (
      SELECT term, freq,
             CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT)
               AS rnk
      FROM tf
    ),
    q AS (
      SELECT CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
             CAST(ROUND(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS y
      FROM rk
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             regr_slope(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS b_slope
      FROM q
    ),
    d AS (
      SELECT *,
             CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den
      FROM m
    )
    SELECT n, sx, sy,
           CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                * ((1000000 * abs(num)) // den) AS BIGINT) AS slope_ppm,
           abs(b_slope - {_ZIPF_SLOPE}) <= {_TOL} * (1.0 + abs({_ZIPF_SLOPE}))
             AS slope_ok
    FROM (
      SELECT *,
             CAST(n AS DOUBLE) AS n_d, CAST(sx AS DOUBLE) AS sx_d,
             CAST(sy AS DOUBLE) AS sy_d, CAST(sxx AS DOUBLE) AS sxx_d,
             CAST(sxy AS DOUBLE) AS sxy_d
      FROM d
    )
    """,
    tags=("stats", "ranking", "zipf", "text", "llm-pipeline"),
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus vocabulary: OLS slope of
    ln(frequency) on ln(rank) — the one-number corpus-health check
    (natural text sits near -1; a slope collapsing toward 0 flags
    boilerplate / template floods). The ln values are quantized to
    integer micro-nats per DISTINCT term (the BM25 idf precedent —
    one rounding per vocabulary entry, never per occurrence); the
    second moments exceed BIGINT (micro-nat squared x vocab), so they
    accumulate exactly in DECIMAL(38,0) on the Spark side and HUGEINT
    in the oracle, staying OUT of the hash (the stats.py syy
    precedent). The hashed surface is n/sx/sy, slope_ppm — computed
    with sign split out so the truncating integer division (Spark
    decimal `div`, DuckDB HUGEINT `//`, verified to agree) runs on
    positive operands — and the boolean proving each engine's own
    regr_slope matches the closed form from its exact moments.

    Scale: one tf hash aggregate over the token scan (map-side
    partials), then TWO-PHASE global ranks (range partition + local
    row_number + broadcast prefix offsets — no single-task window)
    and the moment aggregate over |vocabulary| rows — domain-bounded,
    not corpus-bounded."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(words()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # Global frequency ranks over the whole vocabulary via the
    # two-phase range-partition idiom (_twophase.py) — a bare global
    # window would hold every token type in one task (round-7 plan
    # lint). (freq desc, term) is total, so ranks are deterministic.
    from ._twophase import global_order_stats

    rk = global_order_stats(
        tf, [F.desc("freq"), F.asc("term")], rn_col="rnk"
    )
    q = rk.select(
        F.expr(
            "CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(ROUND(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("y"),
    )
    m = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(
            F.col("x").cast("decimal(38,0)") * F.col("x")
        ).alias("sxx"),
        F.sum(
            F.col("x").cast("decimal(38,0)") * F.col("y")
        ).alias("sxy"),
        F.expr("regr_slope(CAST(y AS DOUBLE), CAST(x AS DOUBLE))").alias(
            "b_slope"
        ),
    )
    d2 = m.withColumns(
        {
            "num": F.expr(
                "CAST(n AS DECIMAL(38,0)) * sxy"
                " - CAST(sx AS DECIMAL(38,0)) * sy"
            ),
            "den": F.expr(
                "CAST(n AS DECIMAL(38,0)) * sxx"
                " - CAST(sx AS DECIMAL(38,0)) * sx"
            ),
            "n_d": F.col("n").cast("double"),
            "sx_d": F.col("sx").cast("double"),
            "sy_d": F.col("sy").cast("double"),
            "sxx_d": F.col("sxx").cast("double"),
            "sxy_d": F.col("sxy").cast("double"),
        }
    )
    return d2.select(
        "n",
        "sx",
        "sy",
        F.expr(
            "CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)"
            " * ((CAST(1000000 AS DECIMAL(38,0)) * abs(num)) div den)"
            " AS BIGINT)"
        ).alias("slope_ppm"),
        F.expr(
            f"abs(b_slope - {_ZIPF_SLOPE})"
            f" <= {_TOL} * (1.0 + abs({_ZIPF_SLOPE}))"
        ).alias("slope_ok"),
    )


@query(
    "q_quantile_normalize",
    oracle="""
    WITH gh AS MATERIALIZED (
      SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY n_chars
    ),
    gc AS MATERIALIZED (
      SELECT v,
             CAST((1000000 * SUM(cnt) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                  // (SELECT SUM(cnt) FROM gh) AS BIGINT) AS gppm
      FROM gh
    ),
    sh AS MATERIALIZED (
      SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY source, n_chars
    ),
    st AS MATERIALIZED (
      SELECT source, v,
             CAST((1000000 * SUM(cnt) OVER (PARTITION BY source ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                  // (SUM(cnt) OVER (PARTITION BY source)) AS BIGINT)
               AS cdf_ppm
      FROM sh
    )
    SELECT source, CAST(v AS BIGINT) AS v, cdf_ppm,
           CAST((SELECT MIN(gc.v) FROM gc WHERE gc.gppm >= st.cdf_ppm)
                AS BIGINT) AS v_norm
    FROM st
    """,
    tags=("quality", "ranking", "calibration", "llm-pipeline"),
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of document length: every
    source's length distribution is mapped onto the GLOBAL empirical
    distribution (the batch-effect correction used to make per-source
    quality scores comparable before mixing). For each (source,
    length): its within-source inclusive-CDF in ppm (truncating
    integer division), and v_norm = the smallest global length whose
    global CDF ppm reaches it.

    The lookup is a forward as-of on the CDF axis — NOT a theta join:
    source targets and global steps are unioned, sorted once by
    (ppm, tag, v), and the first following global value is carried
    back (the joins.py union+window as-of mechanics). Both CDFs are
    step functions over VALUE HISTOGRAMS, so every window here runs
    over domain-bounded rows (distinct lengths), not the corpus; at
    100 TB the histograms are still thousands of rows while the
    corpus scan that builds them stays a map-side-partial aggregate.
    The oracle takes the equivalent correlated-MIN route."""
    d = load_table(spark, sf_dir, "documents")
    total = F.lit(1_000_000)

    gh = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_g = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    gc = gh.select(
        "v",
        F.expr(
            "CAST((1000000 * sum(cnt) OVER (ORDER BY v"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
            " div (sum(cnt) OVER ()) AS BIGINT)"
        ).alias("gppm"),
    )

    sh = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_s = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    st = sh.select(
        "source",
        "v",
        F.expr(
            "CAST((1000000 * sum(cnt) OVER (PARTITION BY source ORDER BY v"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
            " div (sum(cnt) OVER (PARTITION BY source)) AS BIGINT)"
        ).alias("cdf_ppm"),
    )

    # Forward as-of on the ppm axis: queries (tag 0) before globals
    # (tag 1) at equal ppm so an exact CDF hit matches; among equal
    # gppm steps the smallest global v wins (mirrors the oracle MIN).
    queries_side = st.select(
        F.col("cdf_ppm").alias("ppm"),
        F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("gv"),
        "source",
        F.col("v").cast("long").alias("v"),
        "cdf_ppm",
    )
    global_side = gc.select(
        F.col("gppm").alias("ppm"),
        F.lit(1).alias("tag"),
        F.col("v").cast("long").alias("gv"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("long").alias("v"),
        F.lit(None).cast("long").alias("cdf_ppm"),
    )
    w_fwd = Window.orderBy("ppm", "tag", "gv").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    return (
        queries_side.unionByName(global_side)
        .withColumn(
            "v_norm", F.first("gv", ignorenulls=True).over(w_fwd)
        )
        .filter(F.col("tag") == 0)
        .select("source", "v", "cdf_ppm", "v_norm")
    )


_VG_BUCKETS = 64  # growth-curve checkpoints over the doc_id domain


@query(
    "q_vocab_growth",
    oracle=f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, t AS term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents)
      WHERE t <> ''
    ),
    mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS mx FROM tok),
    bt AS MATERIALIZED (
      SELECT (doc_id * {_VG_BUCKETS}) // ((SELECT mx FROM mx) + 1)
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM tok GROUP BY 1
    ),
    fo AS MATERIALIZED (
      SELECT term, CAST(MIN(doc_id) AS BIGINT) AS first_doc
      FROM tok GROUP BY term
    ),
    bn AS MATERIALIZED (
      SELECT (first_doc * {_VG_BUCKETS}) // ((SELECT mx FROM mx) + 1)
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS new_terms
      FROM fo GROUP BY 1
    )
    SELECT CAST(bt.bucket AS BIGINT) AS bucket,
           bt.n_tokens,
           CAST(COALESCE(bn.new_terms, 0) AS BIGINT) AS new_terms,
           CAST(SUM(bt.n_tokens) OVER (ORDER BY bt.bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(bn.new_terms, 0)) OVER (ORDER BY bt.bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_vocab
    FROM bt LEFT JOIN bn ON bn.bucket = bt.bucket
    """,
    tags=("text", "vocab-growth", "heaps", "llm-pipeline"),
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the Heaps-law diagnostic): cumulative
    distinct-term count vs cumulative token count at 64 checkpoints
    across the corpus in doc_id order — the curve whose flattening
    tells you when more data stops buying new vocabulary. Each term
    contributes at its FIRST document (min(doc_id) — one aggregate),
    so "cumulative distinct" never needs a running set: it is the
    prefix sum of first-occurrence counts per bucket.

    Scale: buckets come from range-partitioning the doc_id domain with
    a broadcast max scalar (map-side arithmetic — no ntile over the
    corpus); the two cumulative windows run over 64 rows. The
    first-occurrence aggregate is the only vocabulary-sized shuffle."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(words()).alias("term")
    ).filter(F.col("term") != "")
    mx = tok.agg(F.max("doc_id").cast("long").alias("mx"))
    tok_b = tok.crossJoin(F.broadcast(mx)).select(
        F.expr(f"(doc_id * {_VG_BUCKETS}) div (mx + 1)").alias("bucket"),
        "doc_id",
        "term",
    )
    bt = tok_b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_tokens"))
    fo = tok.groupBy("term").agg(F.min("doc_id").cast("long").alias("first_doc"))
    bn = (
        fo.crossJoin(F.broadcast(mx))
        .select(
            F.expr(f"(first_doc * {_VG_BUCKETS}) div (mx + 1)").alias(
                "bucket"
            )
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        bt.join(bn, "bucket", "left")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_tokens",
            F.coalesce("new_terms", F.lit(0)).alias("new_terms"),
        )
        .withColumns(
            {
                "cum_tokens": F.sum("n_tokens").over(w_cum),
                "cum_vocab": F.sum("new_terms").over(w_cum),
            }
        )
    )


@query(
    "q_roc_youden",
    oracle="""
    WITH h AS (
      SELECT n_chars AS x,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS pos,
             CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
               AS neg
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT x,
             CAST(SUM(pos) OVER (ORDER BY x DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS tp,
             CAST(SUM(neg) OVER (ORDER BY x DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS fp,
             CAST(SUM(pos) OVER () AS BIGINT) AS p_total,
             CAST(SUM(neg) OVER () AS BIGINT) AS n_total
      FROM h
    ),
    j AS (
      SELECT x AS threshold, tp, fp,
             CAST((1000000 * tp) // p_total AS BIGINT) AS tpr_ppm,
             CAST((1000000 * fp) // n_total AS BIGINT) AS fpr_ppm,
             CAST((1000000 * tp) // p_total
                  - (1000000 * fp) // n_total AS BIGINT) AS j_ppm
      FROM c
    )
    SELECT threshold, tp, fp, tpr_ppm, fpr_ppm, j_ppm,
           row_number() OVER (ORDER BY j_ppm DESC, threshold) = 1
             AS is_best
    FROM j
    """,
    tags=("stats", "ranking", "roc", "evaluation", "llm-pipeline"),
)
def q_roc_youden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ROC operating-point table for "n_chars >= t predicts
    lang = en", one row per candidate threshold: exact tp/fp from
    suffix sums over the score HISTOGRAM, truncating-ppm TPR/FPR, the
    Youden J statistic (TPR - FPR), and a deterministic best-threshold
    flag (max J, smallest threshold on ties) — threshold selection as
    a relational operator instead of a driver-side sweep.

    Scale: one histogram aggregate (map-side partials), then every
    window — suffix sums, totals, the argmax rank — runs over
    |distinct scores| rows."""
    d = load_table(spark, sf_dir, "documents")
    h = d.groupBy(F.col("n_chars").alias("x")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("pos"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).alias("neg"),
    )
    w_suf = Window.orderBy(F.desc("x")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    c = h.select(
        "x",
        F.sum("pos").over(w_suf).alias("tp"),
        F.sum("neg").over(w_suf).alias("fp"),
        F.sum("pos").over(w_all).alias("p_total"),
        F.sum("neg").over(w_all).alias("n_total"),
    )
    j = c.select(
        F.col("x").alias("threshold"),
        "tp",
        "fp",
        F.expr("CAST((1000000 * tp) div p_total AS BIGINT)").alias(
            "tpr_ppm"
        ),
        F.expr("CAST((1000000 * fp) div n_total AS BIGINT)").alias(
            "fpr_ppm"
        ),
        F.expr(
            "CAST((1000000 * tp) div p_total"
            " - (1000000 * fp) div n_total AS BIGINT)"
        ).alias("j_ppm"),
    )
    w_best = Window.orderBy(F.desc("j_ppm"), "threshold")
    return j.withColumn(
        "is_best", F.row_number().over(w_best) == 1
    )


@query(
    "q_decile_lift",
    oracle="""
    WITH h AS (
      SELECT n_chars AS x, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS resp
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT x, cnt, resp,
             CAST(COALESCE(SUM(cnt) OVER (ORDER BY x DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum_before,
             CAST(SUM(cnt) OVER () AS BIGINT) AS total,
             CAST(SUM(resp) OVER () AS BIGINT) AS total_resp
      FROM h
    ),
    dec AS (
      SELECT (cum_before * 10) // total AS decile, cnt, resp,
             total, total_resp
      FROM c
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(SUM(cnt) AS BIGINT) AS n,
           CAST(SUM(resp) AS BIGINT) AS responders,
           CAST((1000000 * SUM(resp)) // SUM(cnt) AS BIGINT) AS rate_ppm,
           CAST((1000000 * SUM(resp) * MIN(total))
                // (SUM(cnt) * MIN(total_resp)) AS BIGINT) AS lift_ppm
    FROM dec
    GROUP BY decile
    """,
    tags=("stats", "ranking", "lift", "evaluation"),
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table for the same score/response pair: documents
    ranked by n_chars descending are dealt into 10 score bands (a
    value's band comes from its cumulative position in the HISTOGRAM —
    ties share a band deterministically), and each band reports its
    response rate and lift over the base rate as exact cross-
    multiplied ppm — the gains-chart primitive behind "how much better
    is the top 10% than average".

    Scale: one histogram aggregate; banding and the final 10-row
    reduction run over |distinct scores| rows. Note ties can make
    bands uneven — that is the deterministic, engine-agnostic choice
    (per-doc ntile would tie-break arbitrarily)."""
    d = load_table(spark, sf_dir, "documents")
    h = d.groupBy(F.col("n_chars").alias("x")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("resp"),
    )
    w_before = Window.orderBy(F.desc("x")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy()
    c = h.select(
        "x",
        "cnt",
        "resp",
        F.coalesce(F.sum("cnt").over(w_before), F.lit(0)).alias(
            "cum_before"
        ),
        F.sum("cnt").over(w_all).alias("total"),
        F.sum("resp").over(w_all).alias("total_resp"),
    )
    dec = c.select(
        F.expr("(cum_before * 10) div total").alias("decile"),
        "cnt",
        "resp",
        "total",
        "total_resp",
    )
    return dec.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.sum("cnt").alias("n"),
        F.sum("resp").alias("responders"),
        F.expr(
            "CAST((1000000 * sum(resp)) div sum(cnt) AS BIGINT)"
        ).alias("rate_ppm"),
        F.expr(
            "CAST((1000000 * sum(resp) * min(total))"
            " div (sum(cnt) * min(total_resp)) AS BIGINT)"
        ).alias("lift_ppm"),
    )


from .stats import _isqrt_wide_sql  # exact wide-integer square root


@query(
    "q_kendall_tau_b",
    oracle=f"""
    WITH cells AS MATERIALIZED (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    pr AS (
      SELECT CAST(SUM(CASE WHEN b.d > a.d THEN a.cnt * b.cnt ELSE 0 END)
                  AS BIGINT) AS c_pairs,
             CAST(SUM(CASE WHEN b.d < a.d THEN a.cnt * b.cnt ELSE 0 END)
                  AS BIGINT) AS d_pairs
      FROM cells a JOIN cells b ON b.q > a.q
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             CAST((SUM(cnt) * (SUM(cnt) - 1)) // 2 AS BIGINT) AS n0
      FROM cells
    ),
    tx AS (
      SELECT CAST(SUM((nq * (nq - 1)) // 2) AS BIGINT) AS n1
      FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS nq FROM cells GROUP BY q)
    ),
    ty AS (
      SELECT CAST(SUM((nd * (nd - 1)) // 2) AS BIGINT) AS n2
      FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS nd FROM cells GROUP BY d)
    ),
    z AS (
      SELECT n, n0, n1, n2, c_pairs, d_pairs,
             CAST(c_pairs - d_pairs AS BIGINT) AS num,
             CAST(n0 - n1 AS HUGEINT) * CAST(n0 - n2 AS HUGEINT) AS den2
      FROM pr, tot, tx, ty
    )
    SELECT n, n0, n1, n2, c_pairs, d_pairs, num,
           CAST(n0 - n1 AS BIGINT) AS denx,
           CAST(n0 - n2 AS BIGINT) AS deny,
           CAST((1000000 * num) // {_isqrt_wide_sql("den2", "HUGEINT")}
                AS BIGINT) AS tau_ppm
    FROM z
    """,
    tags=("stats", "ranking", "kendall", "correlation"),
)
def q_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation between l_quantity and
    l_discount, computed WITHOUT enumerating row pairs: the data
    collapses to its 2-D VALUE-HISTOGRAM (|Q| x |D| cells — bounded by
    the value domains, independent of row count), concordant and
    discordant pair counts come from one dominance self-join over the
    cells, and tie corrections from the two marginal histograms. The
    tau denominator sqrt((n0-n1)(n0-n2)) is evaluated with the exact
    wide-integer isqrt (stats.py), so tau_ppm is reproducible bit-
    for-bit across engines; every hashed column is an exact BIGINT.

    Scale: one hash aggregate builds the cells; the dominance join is
    |cells|^2 on a broadcast-sized table (50 x 11 here; the technique
    holds whenever the value domains are bounded — for continuous
    values, pre-bucket). The O(n^2) pair enumeration this replaces is
    the plan that dies at 100x."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(
            F.col("l_quantity").cast("long").alias("q"),
            F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # feeds the dominance join + three reductions
    )
    a, b = cells.alias("a"), cells.alias("b")
    pr = (
        a.join(F.broadcast(b), F.col("b.q") > F.col("a.q"))
        .agg(
            F.sum(
                F.when(
                    F.col("b.d") > F.col("a.d"),
                    F.col("a.cnt") * F.col("b.cnt"),
                ).otherwise(F.lit(0))
            ).alias("c_pairs"),
            F.sum(
                F.when(
                    F.col("b.d") < F.col("a.d"),
                    F.col("a.cnt") * F.col("b.cnt"),
                ).otherwise(F.lit(0))
            ).alias("d_pairs"),
        )
    )
    tot = cells.agg(
        F.sum("cnt").alias("n"),
        F.expr("CAST((SUM(cnt) * (SUM(cnt) - 1)) div 2 AS BIGINT)").alias(
            "n0"
        ),
    )
    tx = (
        cells.groupBy("q")
        .agg(F.sum("cnt").alias("nq"))
        .agg(
            F.expr("CAST(SUM((nq * (nq - 1)) div 2) AS BIGINT)").alias("n1")
        )
    )
    ty = (
        cells.groupBy("d")
        .agg(F.sum("cnt").alias("nd"))
        .agg(
            F.expr("CAST(SUM((nd * (nd - 1)) div 2) AS BIGINT)").alias("n2")
        )
    )
    z = (
        pr.join(F.broadcast(tot))
        .join(F.broadcast(tx))
        .join(F.broadcast(ty))
        .withColumn("num", F.expr("CAST(c_pairs - d_pairs AS BIGINT)"))
        .withColumn(
            "den2",
            F.expr(
                "CAST(n0 - n1 AS DECIMAL(38,0))"
                " * CAST(n0 - n2 AS DECIMAL(38,0))"
            ),
        )
    )
    return z.select(
        "n",
        "n0",
        "n1",
        "n2",
        "c_pairs",
        "d_pairs",
        "num",
        F.expr("CAST(n0 - n1 AS BIGINT)").alias("denx"),
        F.expr("CAST(n0 - n2 AS BIGINT)").alias("deny"),
        F.expr(
            f"CAST((1000000 * num)"
            f" div {_isqrt_wide_sql('den2', 'DECIMAL(38,0)')} AS BIGINT)"
        ).alias("tau_ppm"),
    )


@query(
    "q_brier_decomposition",
    oracle="""
    WITH src AS MATERIALIZED (
      SELECT source,
             CAST((1000000 * SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END))
                  // COUNT(*) AS BIGINT) AS p_ppm
      FROM documents GROUP BY source
    ),
    h AS (
      SELECT n_chars AS x, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY n_chars
    ),
    band AS MATERIALIZED (
      SELECT x,
             (CAST(COALESCE(SUM(cnt) OVER (ORDER BY x DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) * 10)
               // CAST(SUM(cnt) OVER () AS BIGINT) AS decile
      FROM h
    ),
    scored AS (
      SELECT band.decile, src.p_ppm,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents d
      JOIN band ON band.x = d.n_chars
      JOIN src ON src.source = d.source
    ),
    per_bin AS (
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS pos,
             CAST(SUM(p_ppm) AS BIGINT) AS s_sum,
             CAST(SUM((p_ppm - 1000000 * y) * (p_ppm - 1000000 * y))
                  AS BIGINT) AS bs_num
      FROM scored GROUP BY decile
    ),
    g AS (
      SELECT *,
             CAST(SUM(n) OVER () AS BIGINT) AS n_total,
             CAST(SUM(pos) OVER () AS BIGINT) AS pos_total,
             CAST(SUM(bs_num) OVER () AS BIGINT) AS bs_total
      FROM per_bin
    )
    SELECT decile, n, pos, s_sum,
           CAST((CAST(s_sum - 1000000 * pos AS HUGEINT)
                 * (s_sum - 1000000 * pos)) // n AS BIGINT) AS rel_pp,
           CAST((1000000000000 * CAST(pos * n_total - pos_total * n
                                      AS HUGEINT)
                 * (pos * n_total - pos_total * n))
                // (CAST(n AS HUGEINT) * n_total * n_total)
                AS BIGINT) AS res_pp,
           CAST(bs_total // n_total AS BIGINT) AS bs_pp,
           CAST((1000000000000 * CAST(pos_total AS HUGEINT)
                 * (n_total - pos_total))
                // (CAST(n_total AS HUGEINT) * n_total) AS BIGINT) AS unc_pp
    FROM g
    """,
    tags=("stats", "ranking", "calibration", "brier", "evaluation"),
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for a by-source rate
    model predicting lang = en, evaluated in n_chars decile bands:
    per-bin reliability n_k*(p_bar_k - o_bar_k)^2 and resolution
    n_k*(o_bar_k - o_bar)^2, plus the global Brier mean and the
    uncertainty term o_bar*(1 - o_bar) — the calibration primitive
    behind "is this quality score a usable probability". Every term
    is cross-multiplied into exact integers (pp = ppm^2 units,
    truncating wide-decimal division), so the hash is drift-free.

    Scale: the model table (per-source rate) and band map (distinct
    score values) are broadcast-sized; one scan scores and bins every
    document, one hash aggregate produces the 10 bins; global terms
    come from a window over those 10 rows."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END))"
            " div COUNT(*) AS BIGINT)"
        ).alias("p_ppm")
    )
    h = d.groupBy(F.col("n_chars").alias("x")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_all = Window.partitionBy()
    band = h.select(
        "x",
        F.expr(
            "CAST((COALESCE(SUM(cnt) OVER (ORDER BY x DESC"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 10)"
            " div (SUM(cnt) OVER ()) AS BIGINT)"
        ).alias("decile"),
    )
    scored = (
        d.select("n_chars", "source", "lang")
        .join(F.broadcast(band), F.col("n_chars") == F.col("x"))
        .join(F.broadcast(src), "source")
        .select(
            "decile",
            "p_ppm",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
    )
    per_bin = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("pos"),
        F.sum("p_ppm").alias("s_sum"),
        F.sum(
            (F.col("p_ppm") - 1000000 * F.col("y"))
            * (F.col("p_ppm") - 1000000 * F.col("y"))
        ).alias("bs_num"),
    )
    g = per_bin.select(
        "*",
        F.sum("n").over(w_all).alias("n_total"),
        F.sum("pos").over(w_all).alias("pos_total"),
        F.sum("bs_num").over(w_all).alias("bs_total"),
    )
    return g.select(
        "decile",
        "n",
        "pos",
        "s_sum",
        F.expr(
            "CAST((CAST(s_sum - 1000000 * pos AS DECIMAL(38,0))"
            " * (s_sum - 1000000 * pos)) div n AS BIGINT)"
        ).alias("rel_pp"),
        F.expr(
            "CAST((1000000000000 * CAST(pos * n_total - pos_total * n"
            " AS DECIMAL(38,0))"
            " * (pos * n_total - pos_total * n))"
            " div (CAST(n AS DECIMAL(38,0)) * n_total * n_total)"
            " AS BIGINT)"
        ).alias("res_pp"),
        F.expr("CAST(bs_total div n_total AS BIGINT)").alias("bs_pp"),
        F.expr(
            "CAST((1000000000000 * CAST(pos_total AS DECIMAL(38,0))"
            " * (n_total - pos_total))"
            " div (CAST(n_total AS DECIMAL(38,0)) * n_total) AS BIGINT)"
        ).alias("unc_pp"),
    )


@query(
    "q_isotonic_calibration",
    oracle="""
    WITH h AS (
      SELECT n_chars AS x, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS pos
      FROM documents GROUP BY n_chars
    ),
    binned AS MATERIALIZED (
      SELECT CAST(((x - MIN(x) OVER ()) * 32)
                  // (MAX(x) OVER () - MIN(x) OVER () + 1) AS BIGINT)
               AS bin,
             cnt, pos
      FROM h
    ),
    bins AS MATERIALIZED (
      SELECT bin, CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS pos
      FROM binned GROUP BY bin
    ),
    pre AS MATERIALIZED (
      SELECT bin, n, pos,
             CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cum_n,
             CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cum_pos
      FROM bins
    ),
    m AS (
      SELECT a.bin,
             CAST(MIN((1000000 * (b.cum_pos - a.cum_pos + a.pos))
                      // (b.cum_n - a.cum_n + a.n)) AS BIGINT) AS m_j
      FROM pre a JOIN pre b ON b.bin >= a.bin
      GROUP BY a.bin
    )
    SELECT bins.bin, bins.n, bins.pos,
           CAST((1000000 * bins.pos) // bins.n AS BIGINT) AS raw_ppm,
           CAST(MAX(m.m_j) OVER (ORDER BY bins.bin) AS BIGINT) AS iso_ppm
    FROM bins JOIN m ON m.bin = bins.bin
    """,
    tags=("ranking", "calibration", "isotonic", "pav"),
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the lang = en
    rate against the n_chars score, over 32 equal-width score bins —
    what pool-adjacent-violators produces, computed via PAV's minimax
    characterization iso_i = max_{j<=i} min_{k>=i..} pooled-rate(j,k),
    which IS expressible declaratively: pooled interval rates from
    prefix sums, a bounded interval self-join for the inner min, a
    running max for the outer. Rates are quantized once per interval
    to truncating ppm, so both engines compute the identical integer
    minimax and the fitted curve is monotone by construction.

    Scale: the histogram aggregate is the only pass over data; the
    interval join is |bins|^2 = 1024 rows on a broadcast-sized table
    (bin count is a constant of the operator, not of the data)."""
    d = load_table(spark, sf_dir, "documents")
    h = d.groupBy(F.col("n_chars").alias("x")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("pos"),
    )
    binned = h.select(
        F.expr(
            "CAST(((x - MIN(x) OVER ()) * 32)"
            " div (MAX(x) OVER () - MIN(x) OVER () + 1) AS BIGINT)"
        ).alias("bin"),
        "cnt",
        "pos",
    )
    bins = binned.groupBy("bin").agg(
        F.sum("cnt").alias("n"), F.sum("pos").alias("pos")
    )
    pre = bins.select(
        "bin",
        "n",
        "pos",
        F.expr("CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT)").alias("cum_n"),
        F.expr("CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT)").alias(
            "cum_pos"
        ),
    )
    a, b = pre.alias("a"), pre.alias("b")
    m = (
        a.join(F.broadcast(b), F.col("b.bin") >= F.col("a.bin"))
        .groupBy(F.col("a.bin").alias("bin"))
        .agg(
            F.expr(
                "CAST(MIN((1000000 * (b.cum_pos - a.cum_pos + a.pos))"
                " div (b.cum_n - a.cum_n + a.n)) AS BIGINT)"
            ).alias("m_j")
        )
    )
    return bins.join(m, "bin").select(
        "bin",
        "n",
        "pos",
        F.expr("CAST((1000000 * pos) div n AS BIGINT)").alias("raw_ppm"),
        F.expr(
            "CAST(MAX(m_j) OVER (ORDER BY bin) AS BIGINT)"
        ).alias("iso_ppm"),
    )


@query(
    "q_calibration_ece",
    oracle="""
    WITH src AS MATERIALIZED (
      SELECT source,
             CAST((1000000 * SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END))
                  // COUNT(*) AS BIGINT) AS p_ppm
      FROM documents GROUP BY source
    ),
    scored AS (
      SELECT src.p_ppm,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST((src.p_ppm * 10) // 1000001 AS BIGINT) AS bin
      FROM documents d JOIN src ON src.source = d.source
    ),
    per_bin AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS pos,
             CAST(SUM(p_ppm) AS BIGINT) AS conf_sum
      FROM scored GROUP BY bin
    )
    SELECT bin, n, pos, conf_sum,
           CAST((1000000 * pos) // n AS BIGINT) AS acc_ppm,
           CAST(conf_sum // n AS BIGINT) AS conf_ppm,
           CAST(ABS(conf_sum - 1000000 * pos) // n AS BIGINT) AS gap_ppm,
           CAST(SUM(ABS(conf_sum - 1000000 * pos)) OVER ()
                // SUM(n) OVER () AS BIGINT) AS ece_ppm
    FROM per_bin
    """,
    tags=("ranking", "calibration", "ece", "evaluation", "monitoring"),
)
def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error of the by-source rate model
    predicting lang = en: predictions are binned into 10 equal-width
    confidence bins (bin = p_ppm*10 div 1000001, exact), and
    ECE = sum_k (n_k/N) * |conf_bar_k - acc_k| — computed as one exact
    integer expression sum|conf_sum - 1e6*pos| div N, since the n_k
    inside the per-bin average cancels against the n_k/N weight. The
    per-bin rows expose the reliability-diagram columns (confidence
    vs accuracy vs gap); the repeated ece_ppm column is the scalar a
    monitoring system alerts on. Complements q_brier_decomposition:
    Brier's reliability term is the L2 view binned by a covariate,
    ECE is the L1 view binned by the prediction itself — the pair
    distinguishes "wrong on average" from "wrong where confident".

    Scale: the model is |sources| rows (MATERIALIZED in the oracle,
    broadcast in Spark); the scan aggregates straight to <= 10 bins
    with map-side partials; the ECE rollup is a window over 10 rows."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END))"
            " div COUNT(*) AS BIGINT)"
        ).alias("p_ppm")
    )
    scored = d.join(F.broadcast(src), "source").select(
        "p_ppm",
        F.expr("CASE WHEN lang = 'en' THEN 1 ELSE 0 END").alias("y"),
        F.expr("CAST((p_ppm * 10) div 1000001 AS BIGINT)").alias("bin"),
    )
    per_bin = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("pos"),
        F.sum("p_ppm").alias("conf_sum"),
    )
    return per_bin.select(
        "bin",
        "n",
        "pos",
        "conf_sum",
        F.expr("CAST((1000000 * pos) div n AS BIGINT)").alias("acc_ppm"),
        F.expr("CAST(conf_sum div n AS BIGINT)").alias("conf_ppm"),
        F.expr(
            "CAST(ABS(conf_sum - 1000000 * pos) div n AS BIGINT)"
        ).alias("gap_ppm"),
        F.expr(
            "CAST(SUM(ABS(conf_sum - 1000000 * pos)) OVER ()"
            " div SUM(n) OVER () AS BIGINT)"
        ).alias("ece_ppm"),
    )

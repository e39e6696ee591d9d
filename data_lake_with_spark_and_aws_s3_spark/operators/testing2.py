"""Hypothesis-testing battery, round 8 session 3 — the outlier /
repeated-measures / stratified-table rows that finish the classical
testing shelf started in testing.py: Cochran's Q (k related binary
raters), Grubbs' max-normed-residual and Dixon's Q (single-outlier
screens a monitoring pipeline runs on a daily revenue series before
trusting a day's numbers), plus the later session-3 additions
registered below.

Cross-engine exactness (the [[oracle-exactness-playbook]] rules):
every statistic is a ratio of EXACT integer moments (cents / counts /
ranks), quantized by ONE truncating integer division (`div` /
DuckDB `//`) into milli/micro units, so the entire hashed surface is
integers — no libm, no float accumulation order, identical on any
engine.

Scale: every query is scan -> one or two hash aggregates (the daily
collapse is a ~2.4k-group aggregate regardless of SF — calendar-
bounded, so the post-collapse stage is O(days), not O(rows)); the
Dixon extremes use TakeOrderedAndProject (per-partition heaps, no
global sort, no keyless window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.loader import load_table

# Fixed document-length exposure threshold for the stratified 2x2
# table (chars, not words — schema-provided, no tokenization needed).
# A constant, not a corpus quantile, so the stratum tables stay
# reproducible across scale factors.
_MH_CHAR_THRESHOLD = 306

# ---------------------------------------------------------------------
# q_cochran_q (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_cochran_q",
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
             CAST(SUM(v1) AS HUGEINT) AS c1,
             CAST(SUM(v2) AS HUGEINT) AS c2,
             CAST(SUM(v3) AS HUGEINT) AS c3,
             CAST(SUM(v1 + v2 + v3) AS HUGEINT) AS sr,
             CAST(SUM((v1 + v2 + v3) * (v1 + v2 + v3)) AS HUGEINT) AS srr
      FROM votes
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
           CAST(c3 AS BIGINT) AS c3,
           CAST((1000 * 2 * (3 * (c1*c1 + c2*c2 + c3*c3) - sr * sr))
                // (3 * sr - srr) AS BIGINT) AS q_milli
    FROM agg
    """,
    tags=("testing", "cochran-q", "statistics", "rater-agreement"),
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test for k=3 related binary treatments — do the
    three deterministic quality gates (word-count, stopword,
    alpha-ratio; the q_fleiss_kappa battery) pass DIFFERENT fractions
    of the same documents? The repeated-measures companion to
    q_mcnemar_test (k=2) and the significance test behind
    q_cronbach_alpha's reliability read: Q = (k-1)(k*sum Cj^2 - T^2)
    / (k*T - sum Ri^2) with column totals Cj, row totals Ri, grand
    total T — every term an integer, so q_milli is one truncating
    division.

    Scale: one map-side projection of the three gate votes, one 1-row
    moment aggregate — six longs per partition cross the wire."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
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
        F.expr("CAST(SUM(v1) AS DECIMAL(38,0))").alias("c1"),
        F.expr("CAST(SUM(v2) AS DECIMAL(38,0))").alias("c2"),
        F.expr("CAST(SUM(v3) AS DECIMAL(38,0))").alias("c3"),
        F.expr("CAST(SUM(v1 + v2 + v3) AS DECIMAL(38,0))").alias("sr"),
        F.expr(
            "CAST(SUM((v1 + v2 + v3) * (v1 + v2 + v3)) AS DECIMAL(38,0))"
        ).alias("srr"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        F.col("c3").cast("long").alias("c3"),
        F.expr(
            "CAST((1000 * 2 * (3 * (c1*c1 + c2*c2 + c3*c3) - sr * sr))"
            " div (3 * sr - srr) AS BIGINT)"
        ).alias("q_milli"),
    )


# ---------------------------------------------------------------------
# q_grubbs_test (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_grubbs_test",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS HUGEINT) AS cents
      FROM orders GROUP BY o_orderdate
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(cents) AS sx, SUM(cents * cents) AS sxx,
             MAX(cents) AS mx, MIN(cents) AS mn
      FROM daily
    ),
    dev AS (
      SELECT n, sx, sxx,
             GREATEST(n * mx - sx, sx - n * mn) AS maxdev,
             CASE WHEN n * mx - sx >= sx - n * mn THEN mx ELSE mn END
               AS outlier
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(outlier AS BIGINT) AS outlier_cents,
           CAST((1000000 * (n - 1) * maxdev * maxdev)
                // (n * (n * sxx - sx * sx)) AS BIGINT) AS g2_micro
    FROM dev
    """,
    tags=("testing", "grubbs", "outlier", "statistics"),
)
def q_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' max-normed-residual outlier test on the daily revenue
    series — the screen a monitoring pipeline runs before trusting a
    day's numbers: G = max|x - mean| / s. Emitted SQUARED in micro
    units so it stays rational: G^2 = (n-1)(n*x* - Sx)^2 /
    (n(n*Sxx - Sx^2)) with x* the farther extreme — every term an
    exact integer in cents, one truncating division. G^2_micro >
    ~4.3e6 (G > 2.08 at n~2400 via the t-quantile table) flags the
    day; here g2_micro ~ 1.5e7 (G ~ 3.9) — a real flag.

    Exactness headroom: maxdev^2*(n-1)*1e6 ~ 3.5e35 at sf0.1, inside
    DECIMAL(38,0); at 100 TB re-quantize cents -> dollars (the
    q_anova_oneway rescale treatment) before squaring.

    Scale: the daily collapse is calendar-bounded (~2.4k groups at any
    SF), then a 1-row moment aggregate — O(days) post-shuffle."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy("o_orderdate")
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))"
                " AS DECIMAL(38,0))"
            ).alias("cents")
        )
    )
    m = daily.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("SUM(cents)").alias("sx"),
        F.expr("SUM(cents * cents)").alias("sxx"),
        F.expr("MAX(cents)").alias("mx"),
        F.expr("MIN(cents)").alias("mn"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            "CAST(CASE WHEN n * mx - sx >= sx - n * mn THEN mx ELSE mn END"
            " AS BIGINT)"
        ).alias("outlier_cents"),
        F.expr(
            "CAST((1000000 * (n - 1)"
            " * GREATEST(n * mx - sx, sx - n * mn)"
            " * GREATEST(n * mx - sx, sx - n * mn))"
            " div (n * (n * sxx - sx * sx)) AS BIGINT)"
        ).alias("g2_micro"),
    )


# ---------------------------------------------------------------------
# q_dixon_q (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_dixon_q",
    oracle="""
    WITH daily AS (
      SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_orderdate
    ),
    lo AS (SELECT cents FROM daily ORDER BY cents ASC LIMIT 2),
    hi AS (SELECT cents FROM daily ORDER BY cents DESC LIMIT 2),
    e AS (
      SELECT (SELECT MIN(cents) FROM lo) AS x1,
             (SELECT MAX(cents) FROM lo) AS x2,
             (SELECT MIN(cents) FROM hi) AS xn1,
             (SELECT MAX(cents) FROM hi) AS xn
    )
    SELECT x1, x2, xn1, xn,
           CAST((1000 * (x2 - x1)) // (xn - x1) AS BIGINT)
             AS q_low_milli,
           CAST((1000 * (xn - xn1)) // (xn - x1) AS BIGINT)
             AS q_high_milli
    FROM e
    """,
    tags=("testing", "dixon-q", "outlier", "statistics"),
)
def q_dixon_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dixon's Q ratio test at both ends of the daily revenue series —
    the small-sample companion to q_grubbs_test (same monitoring
    question, gap-based instead of variance-based): Q_low =
    (x(2)-x(1))/(x(n)-x(1)), Q_high = (x(n)-x(n-1))/(x(n)-x(1)).
    Both rationals of integer cents, quantized milli. Under a tie at
    an extreme the 2-smallest/2-largest MULTISETS are still unique,
    so the emitted values are deterministic even though the witness
    rows are not.

    Scale: the two extremes come from orderBy().limit(2) —
    TakeOrderedAndProject per-partition heaps over the calendar-
    bounded daily frame, no global sort, no keyless window; the two
    2-row frames union into one final 1-row aggregate (no join)."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy("o_orderdate")
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))"
                " AS BIGINT)"
            ).alias("cents")
        )
        .select("cents")
    )
    lo = daily.orderBy(F.col("cents").asc()).limit(2).select(
        "cents", F.lit("lo").alias("side")
    )
    hi = daily.orderBy(F.col("cents").desc()).limit(2).select(
        "cents", F.lit("hi").alias("side")
    )
    e = lo.unionAll(hi).agg(
        F.min(F.when(F.col("side") == "lo", F.col("cents"))).alias("x1"),
        F.max(F.when(F.col("side") == "lo", F.col("cents"))).alias("x2"),
        F.min(F.when(F.col("side") == "hi", F.col("cents"))).alias("xn1"),
        F.max(F.when(F.col("side") == "hi", F.col("cents"))).alias("xn"),
    )
    return e.select(
        "x1",
        "x2",
        "xn1",
        "xn",
        F.expr("CAST((1000 * (x2 - x1)) div (xn - x1) AS BIGINT)").alias(
            "q_low_milli"
        ),
        F.expr("CAST((1000 * (xn - xn1)) div (xn - x1) AS BIGINT)").alias(
            "q_high_milli"
        ),
    )


# ---------------------------------------------------------------------
# q_ljung_box (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_ljung_box",
    oracle="""
    WITH daily AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
             CAST(COUNT(*) AS HUGEINT) AS y
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(y) AS s,
                 SUM(y * y) AS syy
          FROM daily),
    lags AS (SELECT CAST(unnest([1, 2, 3, 4, 5]) AS BIGINT) AS lag),
    paired AS (
      SELECT l.lag, SUM(a.y) AS s0, SUM(b.y) AS s1,
             SUM(a.y * b.y) AS s01
      FROM daily a JOIN lags l ON TRUE JOIN daily b ON b.x = a.x + l.lag
      GROUP BY l.lag
    ),
    terms AS (
      SELECT p.lag,
             (g.n * g.n * p.s01 - g.n * g.s * (p.s0 + p.s1)
              + (g.n - p.lag) * g.s * g.s) AS ak,
             (g.n * g.n * g.syy - g.n * g.s * g.s) AS a0,
             g.n AS n
      FROM paired p, g
    )
    SELECT lag, CAST(n AS BIGINT) AS n_days,
           CAST((1000 * ak) // a0 AS BIGINT) AS rho_milli,
           CAST((1000000 * n * (n + 2) * ak * ak)
                // (a0 * a0 * (n - lag)) AS BIGINT) AS lb_term_micro
    FROM terms ORDER BY lag
    """,
    tags=("testing", "ljung-box", "timeseries", "autocorrelation"),
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau whiteness test over the global daily
    event-count series at lags 1-5 — the "is there ANY serial
    structure left" read that follows q_autocorrelation's per-lag
    moments and precedes fitting anything: Q = n(n+2) sum rho_k^2 /
    (n-k). Uses the standard GLOBAL-mean autocorrelation convention
    (q_autocorrelation uses per-lag cross-moments), so the two
    surfaces are deliberately different statistics. With A_k =
    sum (n*y_t - S)(n*y_{t+k} - S), the n^2 mean-denominators cancel
    in rho_k = A_k/A_0, so each per-lag term is one truncating
    division of exact integers; summing lb_term_micro over the 5
    emitted rows reproduces Q in micro units. The lagged pairing is
    an equi-join on the day ordinal (datediff from epoch — no window,
    no row_number); absent days simply do not pair (documented gap
    semantics, same as the ACF).

    Scale: daily collapse is calendar-bounded; the 5-lag fan-out is a
    constant broadcast; one 1-row global frame stitches in via a
    broadcast nested-loop over 5 rows (allowlisted scalar stitch)."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("y"))
        .select(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("x"),
            "y",
        )
    )
    g = daily.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("SUM(y)").alias("s"),
        F.expr("SUM(y * y)").alias("syy"),
    )
    lags = spark.createDataFrame([(1,), (2,), (3,), (4,), (5,)], "lag long")
    a = daily.crossJoin(F.broadcast(lags)).select(
        "lag", F.col("y").alias("y0"), (F.col("x") + F.col("lag")).alias("xt")
    )
    b = daily.select(F.col("y").alias("y1"), F.col("x").alias("xb"))
    paired = (
        a.join(b, F.col("xb") == F.col("xt"))
        .groupBy("lag")
        .agg(
            F.expr("SUM(y0)").alias("s0"),
            F.expr("SUM(y1)").alias("s1"),
            F.expr("SUM(y0 * y1)").alias("s01"),
        )
    )
    terms = paired.crossJoin(F.broadcast(g)).select(
        "lag",
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            "(n * n * s01 - n * s * (s0 + s1) + (n - lag) * s * s)"
        ).alias("ak"),
        F.expr("(n * n * syy - n * s * s)").alias("a0"),
        F.col("n").alias("nd"),
    )
    return terms.select(
        "lag",
        "n_days",
        F.expr("CAST((1000 * ak) div a0 AS BIGINT)").alias("rho_milli"),
        F.expr(
            "CAST((1000000 * nd * (nd + 2) * ak * ak)"
            " div (a0 * a0 * (nd - lag)) AS BIGINT)"
        ).alias("lb_term_micro"),
    )


# ---------------------------------------------------------------------
# q_jarque_bera (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_jarque_bera",
    oracle="""
    WITH base AS (
      SELECT CAST(ROUND(o_totalprice / 1000) AS HUGEINT) AS x FROM orders
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s1,
             SUM(x * x) AS s2, SUM(x * x * x) AS s3,
             SUM(x * x * x * x) AS s4
      FROM base
    ),
    c AS (
      SELECT n,
             (n * s2 - s1 * s1) // (n * n) AS v2,
             (n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1)
               // (n * n * n) AS v3,
             (n * n * n * s4 - 4 * n * n * s1 * s3
              + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1)
               // (n * n * n * n) AS v4
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           CAST((1000000 * v3 * v3) // (v2 * v2 * v2) AS BIGINT)
             AS skew2_micro,
           CAST((1000000 * v4) // (v2 * v2) AS BIGINT) AS kurt_micro,
           CAST(n * ((1000000 * v3 * v3) // (v2 * v2 * v2) // 6
                     + ((1000000 * v4) // (v2 * v2) - 3000000)
                       * ((1000000 * v4) // (v2 * v2) - 3000000)
                       // 24000000)
                // 1000 AS BIGINT) AS jb_milli
    FROM c
    """,
    tags=("testing", "jarque-bera", "normality", "statistics"),
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on the order-value distribution —
    the sanity read before any z-score/sigma-rule monitor (q_grubbs,
    control charts) is trusted: JB = n(S^2/6 + (K-3)^2/24) from the
    sample skewness S and kurtosis K. Values are quantized to integer
    KILOdollars before the moment sums — the 4th-power sum of cents
    would overflow DECIMAL(38) at sf>=0.1, and a 0.1% value
    quantization moves a shape statistic of a ~100k$-range
    distribution by less than the test's own sampling noise (both
    engines quantize identically, so parity is exact). Central
    moments are deflated by n^k with ONE truncating division each
    (v2 = m2 div n^2, ...), then S^2 = v3^2/v2^3 and K = v4/v2^2 are
    single truncating divisions — the whole surface is integers.

    Scale: one map-side projection, one 1-row moment aggregate; four
    DECIMAL(38,0) partials per partition cross the wire. Headroom:
    n^3 * sum(x^4) ~ 1e31 at sf0.1, ~1e37 at sf10 — inside
    DECIMAL(38); past that re-quantize to 10k$ units."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.expr(
            "CAST(CAST(ROUND(o_totalprice / 1000) AS BIGINT)"
            " AS DECIMAL(38,0))"
        ).alias("x")
    )
    m = base.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("SUM(x)").alias("s1"),
        F.expr("SUM(x * x)").alias("s2"),
        F.expr("SUM(x * x * x)").alias("s3"),
        F.expr("SUM(x * x * x * x)").alias("s4"),
    )
    c = m.select(
        "n",
        F.expr("(n * s2 - s1 * s1) div (n * n)").alias("v2"),
        F.expr(
            "(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1)"
            " div (n * n * n)"
        ).alias("v3"),
        F.expr(
            "(n * n * n * s4 - 4 * n * n * s1 * s3"
            " + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1)"
            " div (n * n * n * n)"
        ).alias("v4"),
    )
    return c.select(
        F.col("n").cast("long").alias("n_orders"),
        F.expr(
            "CAST((1000000 * v3 * v3) div (v2 * v2 * v2) AS BIGINT)"
        ).alias("skew2_micro"),
        F.expr("CAST((1000000 * v4) div (v2 * v2) AS BIGINT)").alias(
            "kurt_micro"
        ),
        F.expr(
            "CAST(n * ((1000000 * v3 * v3) div (v2 * v2 * v2) div 6"
            " + ((1000000 * v4) div (v2 * v2) - 3000000)"
            " * ((1000000 * v4) div (v2 * v2) - 3000000)"
            " div 24000000)"
            " div 1000 AS BIGINT)"
        ).alias("jb_milli"),
    )


# ---------------------------------------------------------------------
# q_mantel_haenszel (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_mantel_haenszel",
    oracle=f"""
    WITH votes AS (
      SELECT lang,
             CASE WHEN n_chars > {_MH_CHAR_THRESHOLD} THEN 1 ELSE 0 END
               AS expo,
             CASE WHEN len(list_distinct(list_filter(
                      string_split(text, ' '),
                      t -> t IN ('the','and','of','to','a','in','is'))))
                       >= 2
                  THEN 1 ELSE 0 END AS outc
      FROM documents
    ),
    s AS (
      SELECT lang,
             CAST(SUM(expo * outc) AS HUGEINT) AS a,
             CAST(SUM(expo * (1 - outc)) AS HUGEINT) AS b,
             CAST(SUM((1 - expo) * outc) AS HUGEINT) AS c,
             CAST(SUM((1 - expo) * (1 - outc)) AS HUGEINT) AS d,
             CAST(COUNT(*) AS HUGEINT) AS nt
      FROM votes GROUP BY lang
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k_strata,
             CAST(SUM(nt) AS BIGINT) AS n_docs,
             CAST(SUM((1000000 * a * d) // nt) AS BIGINT) AS rs_micro,
             CAST(SUM((1000000 * b * c) // nt) AS BIGINT) AS ss_micro
      FROM s
    )
    SELECT k_strata, n_docs, rs_micro, ss_micro,
           CAST((1000 * rs_micro) // ss_micro AS BIGINT) AS or_mh_milli
    FROM t
    """,
    tags=("testing", "mantel-haenszel", "stratified", "statistics"),
)
def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio across language strata — is
    "long document" associated with "stopword-rich" AFTER controlling
    for language? The stratified-confounding companion to
    q_cramers_v (marginal association) and the design a curation
    pipeline uses before attributing a quality signal to length
    rather than language mix: OR_MH = sum(a_i d_i / n_i) /
    sum(b_i c_i / n_i). Each per-stratum term is quantized to micro
    units with ONE truncating division before the exact integer sum
    (the per-term-quantization playbook rule for sums of rationals
    with unlike denominators), then one more division for the ratio.

    Scale: one map-side projection of two binary marks, a |langs|-
    group aggregate, a 1-row reduction — constant-size shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    stop = F.array_distinct(
        F.filter(
            toks,
            lambda t: t.isin("the", "and", "of", "to", "a", "in", "is"),
        )
    )
    votes = d.select(
        "lang",
        F.when(F.col("n_chars") > _MH_CHAR_THRESHOLD, 1)
        .otherwise(0)
        .alias("expo"),
        F.when(F.size(stop) >= 2, 1).otherwise(0).alias("outc"),
    )
    s = votes.groupBy("lang").agg(
        F.expr("CAST(SUM(expo * outc) AS DECIMAL(38,0))").alias("a"),
        F.expr("CAST(SUM(expo * (1 - outc)) AS DECIMAL(38,0))").alias("b"),
        F.expr("CAST(SUM((1 - expo) * outc) AS DECIMAL(38,0))").alias("c"),
        F.expr(
            "CAST(SUM((1 - expo) * (1 - outc)) AS DECIMAL(38,0))"
        ).alias("d"),
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("nt"),
    )
    t = s.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("k_strata"),
        F.expr("CAST(SUM(nt) AS BIGINT)").alias("n_docs"),
        F.expr(
            "CAST(SUM((1000000 * a * d) div nt) AS BIGINT)"
        ).alias("rs_micro"),
        F.expr(
            "CAST(SUM((1000000 * b * c) div nt) AS BIGINT)"
        ).alias("ss_micro"),
    )
    return t.select(
        "k_strata",
        "n_docs",
        "rs_micro",
        "ss_micro",
        F.expr(
            "CAST((1000 * rs_micro) div ss_micro AS BIGINT)"
        ).alias("or_mh_milli"),
    )


# ---------------------------------------------------------------------
# q_partial_correlation (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_partial_correlation",
    oracle="""
    WITH f AS (
      SELECT CAST(len(list_filter(string_split(text, ' '),
                                  t -> t <> '')) AS HUGEINT) AS x,
             CAST(n_chars AS HUGEINT) AS y,
             CAST(len(list_filter(string_split(text, ' '),
                  t -> t IN ('the','and','of','to','a','in','is')))
                  AS HUGEINT) AS z
      FROM documents
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(z) AS sz, SUM(x * x) AS sxx, SUM(y * y) AS syy,
             SUM(z * z) AS szz, SUM(x * y) AS sxy, SUM(x * z) AS sxz,
             SUM(y * z) AS syz
      FROM f
    ),
    c AS (
      SELECT n,
             n * sxy - sx * sy AS cxy, n * sxz - sx * sz AS cxz,
             n * syz - sy * sz AS cyz, n * sxx - sx * sx AS cxx,
             n * syy - sy * sy AS cyy, n * szz - sz * sz AS czz
      FROM m
    ),
    d AS (
      SELECT n,
             (cxy * czz - cxz * cyz) // 1000000000000 AS num,
             (cxx * czz - cxz * cxz) // 1000000000000 AS d1,
             (cyy * czz - cyz * cyz) // 1000000000000 AS d2,
             CAST((1000 * cxy * cxy) // (cxx * cyy) AS BIGINT)
               AS r2_xy_milli
      FROM c
    )
    SELECT CAST(n AS BIGINT) AS n_docs, r2_xy_milli,
           CAST(CASE WHEN num >= 0 THEN 1 ELSE -1 END AS BIGINT)
             AS sign_partial,
           CAST((1000 * num * num) // (d1 * d2) AS BIGINT)
             AS r2_partial_milli
    FROM d
    """,
    tags=("testing", "partial-correlation", "statistics"),
)
def q_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation r_xy.z of word count (x) and
    character count (y) CONTROLLING for stopword count (z) — does
    length-in-words track length-in-chars beyond what stopword volume
    explains? The confounder-adjusted companion to the marginal
    moments surface: r_xy.z = (Cxy*Czz - Cxz*Cyz) /
    sqrt((Cxx*Czz - Cxz^2)(Cyy*Czz - Cyz^2)) with C the exact
    centered cross-moment numerators (n*Sab - Sa*Sb). The sqrt never
    executes: the statistic is emitted SQUARED with its sign, a pure
    rational. The degree-4 products deflate by 1e12 through the pure-
    DECIMAL truncation idiom (x - x % K)/K — NOT Spark's `div`, which
    casts its result to LONG and silently wraps past 2^63 at sf0.1 —
    keeping every term inside DECIMAL(38) through ~sf0.3 (larger SFs
    re-deflate the inputs first; the statistic is a ratio, so the
    constant cancels).

    Scale: one map-side projection, one 1-row ten-moment aggregate —
    the classic single-pass covariance-matrix collapse."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    f = d.select(
        F.size(toks).cast("decimal(38,0)").alias("x"),
        F.col("n_chars").cast("decimal(38,0)").alias("y"),
        F.size(
            F.filter(
                toks,
                lambda t: t.isin("the", "and", "of", "to", "a", "in", "is"),
            )
        )
        .cast("decimal(38,0)")
        .alias("z"),
    )
    m = f.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("SUM(x)").alias("sx"),
        F.expr("SUM(y)").alias("sy"),
        F.expr("SUM(z)").alias("sz"),
        F.expr("SUM(x * x)").alias("sxx"),
        F.expr("SUM(y * y)").alias("syy"),
        F.expr("SUM(z * z)").alias("szz"),
        F.expr("SUM(x * y)").alias("sxy"),
        F.expr("SUM(x * z)").alias("sxz"),
        F.expr("SUM(y * z)").alias("syz"),
    )
    c = m.select(
        "n",
        F.expr("n * sxy - sx * sy").alias("cxy"),
        F.expr("n * sxz - sx * sz").alias("cxz"),
        F.expr("n * syz - sy * sz").alias("cyz"),
        F.expr("n * sxx - sx * sx").alias("cxx"),
        F.expr("n * syy - sy * sy").alias("cyy"),
        F.expr("n * szz - sz * sz").alias("czz"),
    )
    # Spark's `div` casts its result to LONG (silent wrap past 2^63 at
    # sf >= 0.1), so the degree-4 products deflate through the pure-
    # DECIMAL truncation idiom (x - x % K)/K — remainder carries the
    # dividend's sign in BOTH engines, so this is trunc-toward-zero,
    # exactly DuckDB's `//`, with no long anywhere.
    def _trunc(expr: str) -> str:
        k = "1000000000000"
        return (
            f"CAST((({expr}) - (({expr}) % {k})) / {k} AS DECIMAL(38,0))"
        )

    dd = c.select(
        "n",
        F.expr(_trunc("cxy * czz - cxz * cyz")).alias("num"),
        F.expr(_trunc("cxx * czz - cxz * cxz")).alias("d1"),
        F.expr(_trunc("cyy * czz - cyz * cyz")).alias("d2"),
        F.expr(
            "CAST((1000 * cxy * cxy) div (cxx * cyy) AS BIGINT)"
        ).alias("r2_xy_milli"),
    )
    return dd.select(
        F.col("n").cast("long").alias("n_docs"),
        "r2_xy_milli",
        F.expr(
            "CAST(CASE WHEN num >= 0 THEN 1 ELSE -1 END AS BIGINT)"
        ).alias("sign_partial"),
        F.expr(
            "CAST((1000 * num * num) div (d1 * d2) AS BIGINT)"
        ).alias("r2_partial_milli"),
    )


# ---------------------------------------------------------------------
# q_page_trend (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_page_trend",
    oracle="""
    WITH cells AS (
      SELECT dayofweek(CAST(ts AS DATE)) AS blk,
             CAST(hour(ts) // 6 + 1 AS BIGINT) AS j,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT blk, j, y,
             CAST(2 * rank() OVER (PARTITION BY blk ORDER BY y)
                  + COUNT(*) OVER (PARTITION BY blk, y) - 1 AS BIGINT)
               AS r2
      FROM cells
    ),
    t AS (
      SELECT CAST(COUNT(DISTINCT blk) AS BIGINT) AS b,
             CAST(4 AS BIGINT) AS k,
             CAST(SUM(j * r2) AS BIGINT) AS l2
      FROM ranked
    )
    SELECT b, k, l2,
           CAST(b * k * (k+1) * (k+1) // 2 AS BIGINT) AS l2_null,
           CAST((36000 * (l2 - b*k*(k+1)*(k+1)//2)
                       * (l2 - b*k*(k+1)*(k+1)//2) * (k-1))
                // (b * (k*k*k - k) * (k*k*k - k)) AS BIGINT) AS z2_milli
    FROM t
    """,
    tags=("testing", "page-trend", "rank-test", "statistics"),
)
def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for an ORDERED alternative — does event volume
    rise monotonically across the four six-hour bins of the day,
    consistently across weekday blocks? The directional counterpart
    to q_friedman_test (which only asks "any difference"): L =
    sum_j j * R_j over within-block treatment ranks. Ranks are
    DOUBLED midranks (2*rank + ties - 1, the q_kruskal_wallis
    histogram convention) so ties stay integer; z^2 against the
    exact null moments E[L] = b k(k+1)^2/4 and Var[L] =
    b(k^3-k)^2/(144(k-1)) is one truncating division (doubled-L
    algebra folds the 4x into the constant). Block labels never
    surface, so the engines' different weekday numbering conventions
    cannot skew the hash — only the partition itself matters.

    Scale: one 28-cell aggregate (7 weekdays x 4 bins — constant at
    any SF), ranks via windows PARTITIONED by block (4 rows each),
    one 1-row reduction. The scan is the only data-sized stage."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    cells = (
        e.groupBy(
            F.dayofweek(F.col("ts").cast("date")).alias("blk"),
            (F.floor(F.hour("ts") / 6) + 1).cast("long").alias("j"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w_rank = Window.partitionBy("blk").orderBy("y")
    w_tie = Window.partitionBy("blk", "y")
    ranked = cells.select(
        "j",
        (
            2 * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_tie)
            - 1
        )
        .cast("long")
        .alias("r2"),
        "blk",
    )
    t = ranked.agg(
        F.countDistinct("blk").cast("long").alias("b"),
        F.lit(4).cast("long").alias("k"),
        F.sum(F.col("j") * F.col("r2")).cast("long").alias("l2"),
    )
    return t.select(
        "b",
        "k",
        "l2",
        F.expr("CAST(b * k * (k+1) * (k+1) div 2 AS BIGINT)").alias(
            "l2_null"
        ),
        F.expr(
            "CAST((36000 * (l2 - b*k*(k+1)*(k+1) div 2)"
            " * (l2 - b*k*(k+1)*(k+1) div 2) * (k-1))"
            " div (b * (k*k*k - k) * (k*k*k - k)) AS BIGINT)"
        ).alias("z2_milli"),
    )


# ---------------------------------------------------------------------
# q_ansari_bradley (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_ansari_bradley",
    oracle="""
    WITH base AS (
      SELECT event_type AS grp, CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events WHERE event_type IN ('view', 'error')
    ),
    vg AS (
      SELECT grp, x, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM base GROUP BY 1, 2
    ),
    v AS (SELECT x, CAST(SUM(cnt) AS BIGINT) AS tcnt FROM vg GROUP BY x),
    tot AS (
      SELECT CAST(SUM(tcnt) AS BIGINT) AS nn,
             CAST((SUM(tcnt) + 1) // 2 AS BIGINT) AS h
      FROM v
    ),
    r AS (
      SELECT x, tcnt, CAST(SUM(tcnt) OVER (ORDER BY x) AS BIGINT) AS cum
      FROM v
    ),
    sc AS (
      SELECT r.x, r.tcnt,
        CASE WHEN r.cum <= tot.h THEN r.cum * (r.cum + 1)
             ELSE 2*tot.h*(tot.h+1) + 2*(r.cum-tot.h)*(tot.nn+1)
                  - r.cum*(r.cum+1) END
        - CASE WHEN r.cum - r.tcnt <= tot.h
               THEN (r.cum - r.tcnt) * ((r.cum - r.tcnt) + 1)
               ELSE 2*tot.h*(tot.h+1)
                    + 2*((r.cum-r.tcnt)-tot.h)*(tot.nn+1)
                    - (r.cum-r.tcnt)*((r.cum-r.tcnt)+1) END
        AS s2diff
      FROM r, tot
    )
    SELECT vg.grp, CAST(SUM(vg.cnt) AS BIGINT) AS n,
           CAST(SUM((1000000 * vg.cnt * sc.s2diff) // sc.tcnt) AS BIGINT)
             AS ab2_micro
    FROM vg JOIN sc USING (x) GROUP BY vg.grp
    """,
    tags=("testing", "ansari-bradley", "rank-test", "dispersion"),
)
def q_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley dispersion test — do 'view' and 'error' events
    draw their values from distributions with the same SPREAD? The
    scale-alternative companion to the location tests (Mood/Wilcoxon):
    score a(r) = min(r, N+1-r) over the pooled ranking, small at the
    extremes, so a group with fatter tails collects a smaller score
    sum. Tied observations get the exact AVERAGE score over their
    position block: with S2(m) = 2 * sum_{i<=m} min(i, N+1-i) (closed
    form, two integer cases around the midpoint h = (N+1) div 2), a
    tie block of size c occupying positions p+1..p+c carries doubled
    score mass S2(p+c) - S2(p), and each group takes its cnt/c share
    — micro-quantized per block before the exact sum (the
    per-term-quantization rule). Positions come from the VALUE
    HISTOGRAM's running count via the two-phase range-partition idiom
    — no single-task window over data.

    Scale: (value, group) hash aggregate -> value-histogram two-phase
    prefix sum -> 1-row N stitch -> 2-group reduction."""
    from ._twophase import global_order_stats

    e = load_table(spark, sf_dir, "events")
    base = e.filter(F.col("event_type").isin("view", "error")).select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    vg = base.groupBy("grp", "x").agg(F.count(F.lit(1)).alias("cnt"))
    v = vg.groupBy("x").agg(F.sum("cnt").alias("tcnt"))
    tot = v.agg(
        F.sum("tcnt").cast("long").alias("nn"),
        F.expr("CAST((SUM(tcnt) + 1) div 2 AS BIGINT)").alias("h"),
    )
    r = global_order_stats(
        v, [F.asc("x")], running_sums={"cum": F.col("tcnt")}, rn_col=None
    )
    s2 = (
        "CASE WHEN {m} <= h THEN {m} * ({m} + 1)"
        " ELSE 2*h*(h+1) + 2*({m} - h)*(nn+1) - {m} * ({m} + 1) END"
    )
    sc = r.crossJoin(F.broadcast(tot)).select(
        "x",
        "tcnt",
        F.expr(
            s2.format(m="cum") + " - (" + s2.format(m="(cum - tcnt)") + ")"
        ).alias("s2diff"),
    )
    return (
        vg.join(sc, "x")
        .groupBy("grp")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(
                F.expr("(1000000 * cnt * s2diff) div tcnt")
            )
            .cast("long")
            .alias("ab2_micro"),
        )
    )


# ---------------------------------------------------------------------
# q_quade_test (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_quade_test",
    oracle="""
    WITH cells AS (
      SELECT event_type AS blk, CAST(hour(ts) // 6 + 1 AS BIGINT) AS j,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT blk, j, y,
             CAST(2 * rank() OVER (PARTITION BY blk ORDER BY y)
                  + COUNT(*) OVER (PARTITION BY blk, y) - 1 AS BIGINT)
               AS r2
      FROM cells
    ),
    rng AS (SELECT blk, MAX(y) - MIN(y) AS rg FROM cells GROUP BY blk),
    q AS (
      SELECT blk, CAST(2 * rank() OVER (ORDER BY rg)
                  + COUNT(*) OVER (PARTITION BY rg) - 1 AS BIGINT) AS q2
      FROM rng
    ),
    s AS (
      SELECT ranked.blk, ranked.j, q.q2 * (ranked.r2 - 5) AS s4
      FROM ranked JOIN q USING (blk)
    ),
    a AS (
      SELECT CAST(SUM(s4 * s4) AS BIGINT) AS suma,
             CAST(COUNT(DISTINCT blk) AS BIGINT) AS b
      FROM s
    ),
    tj AS (SELECT j, CAST(SUM(s4) AS BIGINT) AS t4 FROM s GROUP BY j),
    bb AS (SELECT CAST(SUM(t4 * t4) AS BIGINT) AS sumt FROM tj)
    SELECT a.b, CAST(4 AS BIGINT) AS k, a.suma, bb.sumt,
           CAST((1000 * (a.b - 1) * bb.sumt)
                // (a.b * a.suma - bb.sumt) AS BIGINT) AS t_milli
    FROM a, bb
    """,
    tags=("testing", "quade", "rank-test", "statistics"),
)
def q_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade test — Friedman's randomized-block rank test WEIGHTED by
    how much each block discriminates: blocks = event types,
    treatments = four six-hour bins, observation = cell revenue
    cents. Within-block doubled midranks r2; block weights Q2 =
    doubled midrank of the block's cell RANGE (a block where the bins
    barely differ contributes little). S = Q2*(r2 - (k+1)) is 4x the
    textbook S_ij, and the 16x cancels in T = (b-1)*sum_j T_j^2 /
    (b*sum S^2 - sum_j T_j^2) — one truncating division of exact
    integer rank algebra, no quantization anywhere.

    Scale: one 20-cell aggregate (|event types| x 4 bins — constant);
    the within-block rank windows partition by block; the block-range
    ranking is ONE keyless window over the |event-type|-row frame
    (taxonomy-bounded, allowlisted). The scan is the only data-sized
    stage."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    cells = (
        e.groupBy(
            F.col("event_type").alias("blk"),
            (F.floor(F.hour("ts") / 6) + 1).cast("long").alias("j"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    w_rank = Window.partitionBy("blk").orderBy("y")
    w_tie = Window.partitionBy("blk", "y")
    ranked = cells.select(
        "blk",
        "j",
        (2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1)
        .cast("long")
        .alias("r2"),
    )
    rng = cells.groupBy("blk").agg((F.max("y") - F.min("y")).alias("rg"))
    q = rng.select(
        "blk",
        (
            2 * F.rank().over(Window.orderBy("rg"))
            + F.count(F.lit(1)).over(Window.partitionBy("rg"))
            - 1
        )
        .cast("long")
        .alias("q2"),
    )
    s = ranked.join(q, "blk").select(
        "j", (F.col("q2") * (F.col("r2") - 5)).alias("s4")
    )
    a = s.agg(
        F.sum(F.col("s4") * F.col("s4")).cast("long").alias("suma"),
        F.count(F.lit(1)).alias("n_cells"),
    ).select("suma", F.expr("CAST(n_cells div 4 AS BIGINT)").alias("b"))
    tj = s.groupBy("j").agg(F.sum("s4").cast("long").alias("t4"))
    bb = tj.agg(F.sum(F.col("t4") * F.col("t4")).cast("long").alias("sumt"))
    return (
        a.crossJoin(F.broadcast(bb))
        .select(
            "b",
            F.lit(4).cast("long").alias("k"),
            "suma",
            "sumt",
            F.expr(
                "CAST((1000 * (b - 1) * sumt)"
                " div (b * suma - sumt) AS BIGINT)"
            ).alias("t_milli"),
        )
    )


# ---------------------------------------------------------------------
# q_logrank_test (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_logrank_test",
    oracle="""
    WITH su AS (
      SELECT user_id, MIN(ts) AS t0,
             CASE WHEN MIN(CAST(json_extract(props, '$.k') AS BIGINT)) < 50
                  THEN 1 ELSE 0 END AS grp
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    pu AS (
      SELECT e.user_id, MIN(e.ts) AS t_ev
      FROM events e JOIN su ON su.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= su.t0 GROUP BY e.user_id
    ),
    ls AS (SELECT user_id, MAX(ts) AS t_last FROM events GROUP BY user_id),
    dur AS (
      SELECT su.grp,
             CASE WHEN pu.t_ev IS NOT NULL
                  THEN CAST(date_diff('day', su.t0, pu.t_ev) AS BIGINT)
                  ELSE CAST(date_diff('day', su.t0, ls.t_last) AS BIGINT)
             END AS d_days,
             CASE WHEN pu.t_ev IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM su LEFT JOIN pu ON pu.user_id = su.user_id
      JOIN ls ON ls.user_id = su.user_id
    ),
    h AS (
      SELECT d_days, grp, CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(ev) AS BIGINT) AS d
      FROM dur GROUP BY d_days, grp
    ),
    dd AS (SELECT d_days FROM h GROUP BY d_days HAVING SUM(d) > 0),
    grid AS (
      SELECT d_days, unnest([0, 1]) AS grp, CAST(0 AS BIGINT) AS n_all,
             CAST(0 AS BIGINT) AS d
      FROM dd
    ),
    merged AS (
      SELECT d_days, grp, CAST(SUM(n_all) AS BIGINT) AS n_all,
             CAST(SUM(d) AS BIGINT) AS d
      FROM (SELECT * FROM h UNION ALL SELECT * FROM grid)
      GROUP BY d_days, grp
    ),
    r AS (
      SELECT d_days, grp, d,
             CAST(SUM(n_all) OVER (PARTITION BY grp ORDER BY d_days DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_risk
      FROM merged
    ),
    byday AS (
      SELECT d_days,
             CAST(SUM(d) AS BIGINT) AS dj,
             CAST(SUM(CASE WHEN grp = 1 THEN d ELSE 0 END) AS BIGINT)
               AS d1j,
             CAST(SUM(n_risk) AS BIGINT) AS nj,
             CAST(SUM(CASE WHEN grp = 1 THEN n_risk ELSE 0 END) AS BIGINT)
               AS n1j
      FROM r GROUP BY d_days HAVING SUM(d) > 0
    ),
    terms AS (
      SELECT (1000000 * (d1j * nj - dj * n1j)) // nj AS oe_micro,
             CASE WHEN nj > 1 THEN
               (1000000 * dj * n1j * (nj - n1j) * (nj - dj))
               // (nj * nj * (nj - 1)) ELSE 0 END AS v_micro
      FROM byday
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_death_days,
             CAST(SUM(oe_micro) AS HUGEINT) AS oe,
             CAST(SUM(v_micro) AS HUGEINT) AS v
      FROM terms
    )
    SELECT n_death_days, CAST(oe AS BIGINT) AS oe_micro,
           CAST(v AS BIGINT) AS v_micro,
           CAST((oe * oe) // (1000 * v) AS BIGINT) AS chi2_milli
    FROM t
    """,
    tags=("testing", "logrank", "survival", "statistics"),
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between two signup cohorts' time-to-purchase
    survival curves — the hypothesis-test companion to
    q_kaplan_meier's estimator (same durations, same right-censoring
    at last activity; cohort = whether the user's smallest signup
    props.k is < 50, a deterministic tie-free rule). At each death
    day: observed-minus-expected group-1 deaths (d1j - dj*n1j/nj) and
    the hypergeometric variance, each micro-quantized with ONE
    truncating division before the exact sums; chi^2 = OE^2/V is one
    more division. Group-at-risk counts come from per-GROUP suffix
    sums over the duration histogram DENSIFIED at the death days (a
    map-side explode of the two-row group domain) — everything is an
    equi-join or a keyed window.

    Scale: user-keyed aggregates (the only data-sized stages), then a
    calendar-bounded histogram (<= days x 2 rows); the suffix window
    partitions by cohort."""
    e = load_table(spark, sf_dir, "events")
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("t0"),
            F.when(
                F.min(
                    F.get_json_object("props", "$.k").cast("long")
                )
                < 50,
                1,
            )
            .otherwise(0)
            .alias("grp"),
        )
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .join(su.select("user_id", "t0"), "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_ev"))
    )
    ls = e.groupBy("user_id").agg(F.max("ts").alias("t_last"))
    dur = (
        su.join(pu, "user_id", "left")
        .join(ls, "user_id")
        .select(
            "grp",
            F.when(
                F.col("t_ev").isNotNull(),
                F.datediff(F.col("t_ev").cast("date"), F.col("t0").cast("date")),
            )
            .otherwise(
                F.datediff(F.col("t_last").cast("date"), F.col("t0").cast("date"))
            )
            .cast("long")
            .alias("d_days"),
            F.when(F.col("t_ev").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    h = dur.groupBy("d_days", "grp").agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("ev").alias("d")
    )
    dd = h.groupBy("d_days").agg(F.sum("d").alias("dj_tot")).filter(
        F.col("dj_tot") > 0
    )
    grid = dd.select(
        "d_days",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("grp"),
        F.lit(0).cast("long").alias("n_all"),
        F.lit(0).cast("long").alias("d"),
    )
    merged = (
        h.select("d_days", "grp", "n_all", "d")
        .unionAll(grid)
        .groupBy("d_days", "grp")
        .agg(F.sum("n_all").alias("n_all"), F.sum("d").alias("d"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("grp")
        .orderBy(F.desc("d_days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = merged.select(
        "d_days", "grp", "d", F.sum("n_all").over(w).cast("long").alias("n_risk")
    )
    byday = (
        r.groupBy("d_days")
        .agg(
            F.sum("d").cast("long").alias("dj"),
            F.sum(F.when(F.col("grp") == 1, F.col("d")).otherwise(0))
            .cast("long")
            .alias("d1j"),
            F.sum("n_risk").cast("long").alias("nj"),
            F.sum(F.when(F.col("grp") == 1, F.col("n_risk")).otherwise(0))
            .cast("long")
            .alias("n1j"),
        )
        .filter(F.col("dj") > 0)
    )
    terms = byday.select(
        F.expr(
            "(1000000 * (d1j * nj - dj * n1j)) div nj"
        ).alias("oe_micro"),
        F.expr(
            "CASE WHEN nj > 1 THEN"
            " (1000000 * dj * n1j * (nj - n1j) * (nj - dj))"
            " div (nj * nj * (nj - 1)) ELSE 0 END"
        ).alias("v_micro"),
    )
    t = terms.agg(
        F.count(F.lit(1)).alias("n_death_days"),
        F.sum("oe_micro").cast("decimal(38,0)").alias("oe"),
        F.sum("v_micro").cast("decimal(38,0)").alias("v"),
    )
    return t.select(
        "n_death_days",
        F.col("oe").cast("long").alias("oe_micro"),
        F.col("v").cast("long").alias("v_micro"),
        # no variance (one cohort, or no death day) has no chi^2: NULL,
        # as the oracle's integer division by zero gives
        F.expr(
            "CASE WHEN v = 0 THEN NULL"
            " ELSE CAST((oe * oe) div (1000 * v) AS BIGINT) END"
        ).alias("chi2_milli"),
    )


# ---------------------------------------------------------------------
# q_granger_causality (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_granger_causality",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(COUNT(*) AS HUGEINT) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2
    ),
    p AS (SELECT day, y FROM daily WHERE event_type = 'purchase'),
    c AS (SELECT day, y FROM daily WHERE event_type = 'click'),
    tri AS (
      SELECT p0.y AS yt, p1.y AS x, c1.y AS z
      FROM p p0
      JOIN p p1 ON p1.day = p0.day - INTERVAL 1 DAY
      JOIN c c1 ON c1.day = p0.day - INTERVAL 1 DAY
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(yt) AS sy, SUM(x) AS sx,
             SUM(z) AS sz, SUM(yt * yt) AS syy, SUM(x * x) AS sxx,
             SUM(z * z) AS szz, SUM(x * yt) AS sxy, SUM(z * yt) AS szy,
             SUM(x * z) AS sxz
      FROM tri
    ),
    cc AS (
      SELECT n,
             n * syy - sy * sy AS cyy, n * sxx - sx * sx AS cxx,
             n * szz - sz * sz AS czz, n * sxy - sx * sy AS cxy,
             n * szy - sz * sy AS czy, n * sxz - sx * sz AS cxz
      FROM m
    ),
    f AS (
      SELECT n,
             cyy * cxx - cxy * cxy AS a,
             cxx * czz - cxz * cxz AS d,
             cyy * (cxx * czz - cxz * cxz)
               - (cxy * cxy * czz - 2 * cxy * czy * cxz
                  + czy * czy * cxx) AS b,
             cxx
      FROM cc
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST((1000 * (n - 3) * (a * d - b * cxx)) // (b * cxx)
                AS BIGINT) AS f_milli
    FROM f
    """,
    tags=("testing", "granger", "timeseries", "causal"),
)
def q_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality (lag-1): do yesterday's CLICK counts improve
    the prediction of today's PURCHASE counts beyond yesterday's
    purchases alone? F = ((RSS_r - RSS_f)/1)/(RSS_f/(n-3)) comparing
    the restricted AR(1) to the full two-regressor OLS. Both RSS
    values stay RATIONAL: with centered cross-moment numerators C
    (n*Sab - Sa*Sb), RSS_r = A/(n*Cxx) with A = Cyy*Cxx - Cxy^2, and
    RSS_f = B/(n*D) with D = Cxx*Czz - Cxz^2 and B the 2-regressor
    sweep — the n's cancel and f_milli = 1000(n-3)(A*D - B*Cxx) /
    (B*Cxx) is ONE truncating division of exact integers. Headroom:
    A*D ~ 2.6e34 at sf0.1 inside DECIMAL(38); at 100 TB deflate the
    daily counts (div 100) first. The day-lag pairing is an equi-join
    on day arithmetic — no window.

    Scale: one calendar-bounded daily aggregate, two tiny day-keyed
    equi-joins, one 1-row ten-moment reduction."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(
            F.col("ts").cast("date").alias("day"), "event_type"
        )
        .agg(F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("y"))
    )
    p = daily.filter(F.col("event_type") == "purchase").select("day", "y")
    c = daily.filter(F.col("event_type") == "click").select(
        F.col("day").alias("day_c"), F.col("y").alias("z")
    )
    p0 = p.select(F.col("day").alias("day0"), F.col("y").alias("yt"))
    p1 = p.select(F.col("day").alias("day1"), F.col("y").alias("x"))
    tri = (
        p0.join(p1, F.expr("day1 = day0 - INTERVAL 1 DAY"))
        .join(c, F.expr("day_c = day0 - INTERVAL 1 DAY"))
        .select("yt", "x", "z")
    )
    m = tri.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("SUM(yt)").alias("sy"),
        F.expr("SUM(x)").alias("sx"),
        F.expr("SUM(z)").alias("sz"),
        F.expr("SUM(yt * yt)").alias("syy"),
        F.expr("SUM(x * x)").alias("sxx"),
        F.expr("SUM(z * z)").alias("szz"),
        F.expr("SUM(x * yt)").alias("sxy"),
        F.expr("SUM(z * yt)").alias("szy"),
        F.expr("SUM(x * z)").alias("sxz"),
    )
    cc = m.select(
        "n",
        F.expr("n * syy - sy * sy").alias("cyy"),
        F.expr("n * sxx - sx * sx").alias("cxx"),
        F.expr("n * szz - sz * sz").alias("czz"),
        F.expr("n * sxy - sx * sy").alias("cxy"),
        F.expr("n * szy - sz * sy").alias("czy"),
        F.expr("n * sxz - sx * sz").alias("cxz"),
    )
    f = cc.select(
        "n",
        F.expr("cyy * cxx - cxy * cxy").alias("a"),
        F.expr("cxx * czz - cxz * cxz").alias("d"),
        F.expr(
            "cyy * (cxx * czz - cxz * cxz)"
            " - (cxy * cxy * czz - 2 * cxy * czy * cxz + czy * czy * cxx)"
        ).alias("b"),
        "cxx",
    )
    return f.select(
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            "CAST((1000 * (n - 3) * (a * d - b * cxx)) div (b * cxx)"
            " AS BIGINT)"
        ).alias("f_milli"),
    )


# ---------------------------------------------------------------------
# q_cohens_d (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_cohens_d",
    oracle="""
    WITH base AS (
      SELECT event_type AS grp, CAST(ROUND(value * 100) AS HUGEINT) AS x
      FROM events WHERE event_type IN ('view', 'error')
    ),
    g AS (
      SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s,
             SUM(x * x) AS ss
      FROM base GROUP BY grp
    ),
    w AS (
      SELECT MAX(CASE WHEN grp = 'view' THEN n END) AS n1,
             MAX(CASE WHEN grp = 'view' THEN s END) AS s1,
             MAX(CASE WHEN grp = 'view' THEN ss END) AS ss1,
             MAX(CASE WHEN grp = 'error' THEN n END) AS n2,
             MAX(CASE WHEN grp = 'error' THEN s END) AS s2,
             MAX(CASE WHEN grp = 'error' THEN ss END) AS ss2
      FROM g
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(CASE WHEN s1 * n2 >= s2 * n1 THEN 1 ELSE -1 END AS BIGINT)
             AS sign_d,
           CAST((1000000 * (s1*n2 - s2*n1) * (s1*n2 - s2*n1) * (n1+n2-2))
                // (n1 * n2 * (n2 * (n1*ss1 - s1*s1)
                               + n1 * (n2*ss2 - s2*s2))) AS BIGINT)
             AS d2_micro
    FROM w
    """,
    tags=("testing", "cohens-d", "effect-size", "statistics"),
)
def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size for 'view' vs 'error' event values — the
    HOW-BIG companion to q_welch_ttest's IS-IT-REAL (and the
    parametric counterpart of q_cliffs_delta): d = (m1 - m2)/s_pooled.
    Emitted SQUARED with its sign so the sqrt never executes:
    d^2 = (S1*n2 - S2*n1)^2 (n1+n2-2) / (n1*n2*[n2(n1*SS1 - S1^2) +
    n1(n2*SS2 - S2^2)]) — the mean difference and pooled variance
    share the n1*n2 denominator, so d2_micro is ONE truncating
    division of exact cent moments. |d| = 0.2/0.5/0.8 benchmarks map
    to d2_micro 40k / 250k / 640k.

    Scale: one filtered scan, one 2-group moment aggregate, one 1-row
    conditional pivot — six numbers per partition cross the wire."""
    e = load_table(spark, sf_dir, "events")
    base = e.filter(F.col("event_type").isin("view", "error")).select(
        F.col("event_type").alias("grp"),
        F.expr(
            "CAST(CAST(ROUND(value * 100) AS BIGINT) AS DECIMAL(38,0))"
        ).alias("x"),
    )
    g = base.groupBy("grp").agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("SUM(x)").alias("s"),
        F.expr("SUM(x * x)").alias("ss"),
    )
    w = g.agg(
        F.expr("MAX(CASE WHEN grp = 'view' THEN n END)").alias("n1"),
        F.expr("MAX(CASE WHEN grp = 'view' THEN s END)").alias("s1"),
        F.expr("MAX(CASE WHEN grp = 'view' THEN ss END)").alias("ss1"),
        F.expr("MAX(CASE WHEN grp = 'error' THEN n END)").alias("n2"),
        F.expr("MAX(CASE WHEN grp = 'error' THEN s END)").alias("s2"),
        F.expr("MAX(CASE WHEN grp = 'error' THEN ss END)").alias("ss2"),
    )
    return w.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.expr(
            "CAST(CASE WHEN s1 * n2 >= s2 * n1 THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("sign_d"),
        F.expr(
            "CAST((1000000 * (s1*n2 - s2*n1) * (s1*n2 - s2*n1)"
            " * (n1+n2-2))"
            " div (n1 * n2 * (n2 * (n1*ss1 - s1*s1)"
            " + n1 * (n2*ss2 - s2*s2))) AS BIGINT)"
        ).alias("d2_micro"),
    )


# ---------------------------------------------------------------------
# q_bartlett_test (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_bartlett_test",
    oracle="""
    WITH base AS (
      SELECT event_type AS grp, CAST(ROUND(value * 100) AS HUGEINT) AS x
      FROM events
    ),
    g AS (
      SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s,
             SUM(x * x) AS ss
      FROM base GROUP BY grp
    ),
    q AS (
      SELECT grp, n, (n * ss - s * s) // (n * (n - 1)) AS s2q,
             CAST(ROUND(1000000 * ln(CAST((n * ss - s * s)
                  // (n * (n - 1)) AS DOUBLE))) AS BIGINT) AS ln_micro
      FROM g
    ),
    tot AS (
      SELECT CAST(SUM(n) AS HUGEINT) AS nn,
             CAST(COUNT(*) AS HUGEINT) AS k,
             CAST(SUM((n - 1) * s2q) AS HUGEINT) AS sw,
             CAST(SUM((n - 1) * ln_micro) AS HUGEINT) AS sum_ln
      FROM q
    ),
    sp AS (SELECT nn, k, sum_ln, sw // (nn - k) AS sp2q FROM tot)
    SELECT CAST(nn AS BIGINT) AS n_events, CAST(k AS BIGINT) AS k_groups,
           CAST((nn - k) * CAST(ROUND(1000000 * ln(CAST(sp2q AS DOUBLE)))
                                AS BIGINT) - sum_ln AS BIGINT) AS b_micro
    FROM sp
    """,
    tags=("testing", "bartlett", "variance", "statistics"),
)
def q_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of equal variances across the five event types
    — the PARAMETRIC counterpart of q_levene_test's robust
    Brown-Forsythe (run both: Bartlett is sharper under normality,
    Levene survives heavy tails; q_jarque_bera says which regime you
    are in): B = (N-k) ln(sp^2) - sum (n_i-1) ln(s_i^2), uncorrected
    form in micro-nats. Each group variance is quantized to an exact
    INTEGER cents^2 value by one truncating division BEFORE the ln
    (s2q ~ 2.5e7 is exactly double-representable at any SF — the
    decimal->double cast-above-2^53 trap never fires), and each ln is
    a single IEEE op over that exactly-equal operand, ROUNDed once to
    micro-nats (the q_kaplan_meier step treatment).

    Scale: one 5-group moment aggregate, one 1-row reduction."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        F.col("event_type").alias("grp"),
        F.expr(
            "CAST(CAST(ROUND(value * 100) AS BIGINT) AS DECIMAL(38,0))"
        ).alias("x"),
    )
    g = base.groupBy("grp").agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("SUM(x)").alias("s"),
        F.expr("SUM(x * x)").alias("ss"),
    )
    q = g.select(
        "n",
        F.expr(
            "CAST((n * ss - s * s) div (n * (n - 1)) AS DECIMAL(38,0))"
        ).alias("s2q"),
        F.expr(
            "CAST(ROUND(1000000 * ln(CAST((n * ss - s * s)"
            " div (n * (n - 1)) AS DOUBLE))) AS BIGINT)"
        ).alias("ln_micro"),
    )
    tot = q.agg(
        F.expr("CAST(SUM(n) AS DECIMAL(38,0))").alias("nn"),
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("k"),
        F.expr("CAST(SUM((n - 1) * s2q) AS DECIMAL(38,0))").alias("sw"),
        F.expr("CAST(SUM((n - 1) * ln_micro) AS DECIMAL(38,0))").alias(
            "sum_ln"
        ),
    )
    sp = tot.select(
        "nn",
        "k",
        "sum_ln",
        F.expr("CAST(sw div (nn - k) AS DECIMAL(38,0))").alias("sp2q"),
    )
    return sp.select(
        F.col("nn").cast("long").alias("n_events"),
        F.col("k").cast("long").alias("k_groups"),
        F.expr(
            "CAST((nn - k) * CAST(ROUND(1000000 * ln(CAST(sp2q AS DOUBLE)))"
            " AS BIGINT) - sum_ln AS BIGINT)"
        ).alias("b_micro"),
    )


# ---------------------------------------------------------------------
# q_transfer_entropy (round 8, session 3)
# ---------------------------------------------------------------------


def _te_sql(src: str, dst: str) -> str:
    """One direction of binary transfer entropy src -> dst as a SQL
    fragment over the `bin` CTE (see q_transfer_entropy)."""
    return f"""
    SELECT '{src}->{dst}' AS direction,
           CAST(SUM(n3) AS BIGINT) AS n_trans,
           CAST(SUM(n3 * lnq) // SUM(n3) AS BIGINT) AS te_micro
    FROM (
      SELECT cells.n3,
             CAST(ROUND(1000000 * ln(CAST(cells.n3 * cb.nb AS DOUBLE)
                  / CAST(cbc.nbc * cab.nab AS DOUBLE))) AS BIGINT) AS lnq
      FROM (
        SELECT a, bb, cc, CAST(COUNT(*) AS BIGINT) AS n3
        FROM (
          SELECT p0.b AS a, p1.b AS bb, c1.b AS cc
          FROM (SELECT day, b FROM bin WHERE event_type = '{dst}') p0
          JOIN (SELECT day, b FROM bin WHERE event_type = '{dst}') p1
            ON p1.day = p0.day - INTERVAL 1 DAY
          JOIN (SELECT day, b FROM bin WHERE event_type = '{src}') c1
            ON c1.day = p0.day - INTERVAL 1 DAY
        ) GROUP BY 1, 2, 3
      ) cells
      JOIN (SELECT bb, CAST(SUM(n3) AS BIGINT) AS nb FROM (
              SELECT a, bb, cc, CAST(COUNT(*) AS BIGINT) AS n3
              FROM (
                SELECT p0.b AS a, p1.b AS bb, c1.b AS cc
                FROM (SELECT day, b FROM bin WHERE event_type = '{dst}') p0
                JOIN (SELECT day, b FROM bin WHERE event_type = '{dst}') p1
                  ON p1.day = p0.day - INTERVAL 1 DAY
                JOIN (SELECT day, b FROM bin WHERE event_type = '{src}') c1
                  ON c1.day = p0.day - INTERVAL 1 DAY
              ) GROUP BY 1, 2, 3
            ) GROUP BY bb) cb USING (bb)
      JOIN (SELECT a, bb, CAST(SUM(n3) AS BIGINT) AS nab FROM (
              SELECT a, bb, cc, CAST(COUNT(*) AS BIGINT) AS n3
              FROM (
                SELECT p0.b AS a, p1.b AS bb, c1.b AS cc
                FROM (SELECT day, b FROM bin WHERE event_type = '{dst}') p0
                JOIN (SELECT day, b FROM bin WHERE event_type = '{dst}') p1
                  ON p1.day = p0.day - INTERVAL 1 DAY
                JOIN (SELECT day, b FROM bin WHERE event_type = '{src}') c1
                  ON c1.day = p0.day - INTERVAL 1 DAY
              ) GROUP BY 1, 2, 3
            ) GROUP BY a, bb) cab
        ON cab.a = cells.a AND cab.bb = cells.bb
      JOIN (SELECT bb, cc, CAST(SUM(n3) AS BIGINT) AS nbc FROM (
              SELECT a, bb, cc, CAST(COUNT(*) AS BIGINT) AS n3
              FROM (
                SELECT p0.b AS a, p1.b AS bb, c1.b AS cc
                FROM (SELECT day, b FROM bin WHERE event_type = '{dst}') p0
                JOIN (SELECT day, b FROM bin WHERE event_type = '{dst}') p1
                  ON p1.day = p0.day - INTERVAL 1 DAY
                JOIN (SELECT day, b FROM bin WHERE event_type = '{src}') c1
                  ON c1.day = p0.day - INTERVAL 1 DAY
              ) GROUP BY 1, 2, 3
            ) GROUP BY bb, cc) cbc
        ON cbc.bb = cells.bb AND cbc.cc = cells.cc
    )
    """


@query(
    "q_transfer_entropy",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s
      FROM daily GROUP BY event_type
    ),
    bin AS (
      SELECT d.day, d.event_type,
             CASE WHEN m.n * d.y >= m.s THEN 1 ELSE 0 END AS b
      FROM daily d JOIN m ON m.event_type = d.event_type
    )
    {_te_sql('click', 'purchase')}
    UNION ALL
    {_te_sql('purchase', 'click')}
    """,
    tags=("testing", "transfer-entropy", "information", "causal"),
)
def q_transfer_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary transfer entropy in BOTH directions between the daily
    click and purchase series — the information-theoretic companion
    to q_granger_causality's linear F: TE(X->Y) =
    sum p(y, y', x') ln[ p(y|y',x') / p(y|y') ], which sees nonlinear
    dependence the lag regression cannot, and the direction asymmetry
    TE(c->p) vs TE(p->c) is the causality read. Each series is
    binarized above/below its own mean by exact cross-multiplication
    (n*y >= S — no division); the 8 joint cells are exact counts, and
    each cell's ln((c_abc*c_b)/(c_bc*c_ab)) is ONE IEEE ln of a ratio
    of exact small products, ROUNDed to micro-nats before the exact
    count-weighted sum.

    Scale: calendar-bounded daily aggregate, day-keyed lag equi-joins,
    an 8-row cell table per direction — nothing data-proportional
    after the scan."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.col("ts").cast("date").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    bins = daily.join(m, "event_type").select(
        "day",
        "event_type",
        F.when(F.col("n") * F.col("y") >= F.col("s"), 1)
        .otherwise(0)
        .alias("b"),
    )
    outs = []
    for src, dst in (("click", "purchase"), ("purchase", "click")):
        p0 = bins.filter(F.col("event_type") == dst).select(
            F.col("day").alias("day0"), F.col("b").alias("a")
        )
        p1 = bins.filter(F.col("event_type") == dst).select(
            F.col("day").alias("day1"), F.col("b").alias("bb")
        )
        c1 = bins.filter(F.col("event_type") == src).select(
            F.col("day").alias("dayc"), F.col("b").alias("cc")
        )
        cells = (
            p0.join(p1, F.expr("day1 = day0 - INTERVAL 1 DAY"))
            .join(c1, F.expr("dayc = day0 - INTERVAL 1 DAY"))
            .groupBy("a", "bb", "cc")
            .agg(F.count(F.lit(1)).alias("n3"))
        )
        cb = cells.groupBy("bb").agg(F.sum("n3").alias("nb"))
        cab = cells.groupBy("a", "bb").agg(F.sum("n3").alias("nab"))
        cbc = cells.groupBy("bb", "cc").agg(F.sum("n3").alias("nbc"))
        t = (
            cells.join(F.broadcast(cb), "bb")
            .join(F.broadcast(cab), ["a", "bb"])
            .join(F.broadcast(cbc), ["bb", "cc"])
            .select(
                "n3",
                F.expr(
                    "CAST(ROUND(1000000 * ln(CAST(n3 * nb AS DOUBLE)"
                    " / CAST(nbc * nab AS DOUBLE))) AS BIGINT)"
                ).alias("lnq"),
            )
        )
        outs.append(
            t.agg(
                F.sum("n3").cast("long").alias("n_trans"),
                F.expr(
                    "CAST(SUM(n3 * lnq) div SUM(n3) AS BIGINT)"
                ).alias("te_micro"),
            ).select(
                F.lit(f"{src}->{dst}").alias("direction"),
                "n_trans",
                "te_micro",
            )
        )
    return outs[0].unionAll(outs[1])


# ---------------------------------------------------------------------
# q_brunner_munzel (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_brunner_munzel",
    oracle="""
    WITH base AS (
      SELECT event_type AS grp, CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE event_type IN ('view', 'error')
    ),
    vg AS (
      SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM base GROUP BY 1, 2
    ),
    hist AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS tcnt FROM vg GROUP BY v),
    pooled AS (
      SELECT v, CAST(2 * SUM(tcnt) OVER (ORDER BY v) - tcnt + 1 AS BIGINT)
               AS r2
      FROM hist
    ),
    within AS (
      SELECT grp, v, cnt,
             CAST(2 * SUM(cnt) OVER (PARTITION BY grp ORDER BY v)
                  - cnt + 1 AS BIGINT) AS r2g
      FROM vg
    ),
    cells AS (
      SELECT w.grp, w.cnt, p.r2 - w.r2g AS p2, p.r2
      FROM within w JOIN pooled p USING (v)
    ),
    g AS (
      SELECT grp, CAST(SUM(cnt) AS HUGEINT) AS n,
             CAST(SUM(cnt * r2) AS HUGEINT) AS sr,
             CAST(SUM(cnt * p2) AS HUGEINT) AS sp,
             CAST(SUM(cnt * p2 * p2) AS HUGEINT) AS spp
      FROM cells GROUP BY grp
    ),
    w AS (
      SELECT
        MAX(CASE WHEN grp = 'view' THEN n END) AS n1,
        MAX(CASE WHEN grp = 'view' THEN sr END) AS sra,
        MAX(CASE WHEN grp = 'view' THEN sp END) AS sp1,
        MAX(CASE WHEN grp = 'view' THEN spp END) AS spp1,
        MAX(CASE WHEN grp = 'error' THEN n END) AS n2,
        MAX(CASE WHEN grp = 'error' THEN sr END) AS srb,
        MAX(CASE WHEN grp = 'error' THEN sp END) AS sp2,
        MAX(CASE WHEN grp = 'error' THEN spp END) AS spp2
      FROM g
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST((1000000 * srb) // n2 - (1000000 * sra) // n1 AS BIGINT)
             AS delta_d_micro,
           CAST((1000 * n1*n1*n2*n2
                 * (((1000000*srb) // n2 - (1000000*sra) // n1))
                 * (((1000000*srb) // n2 - (1000000*sra) // n1)))
                // (1000000000000 * (n1+n2) * (n1+n2)
                    * (n1 * ((n1*spp1 - sp1*sp1) // (n1*(n1-1)))
                     + n2 * ((n2*spp2 - sp2*sp2) // (n2*(n2-1)))))
                AS BIGINT) AS t2_milli,
           CAST((1000000 * (srb - n2*(n2+1))) // (2*n1*n2) AS BIGINT)
             AS phat_ppm
    FROM w
    """,
    tags=("testing", "brunner-munzel", "rank-test", "statistics"),
)
def q_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel generalized Wilcoxon test for 'view' vs 'error'
    values — the rank test that stays valid when the two groups have
    DIFFERENT shapes/variances (the nonparametric Behrens-Fisher
    problem; q_auc_mann_whitney's U assumes equal shapes under H0,
    q_ansari_bradley tests exactly the spread difference BM tolerates).
    Built on PLACEMENTS p = pooled rank - within-group rank, all
    doubled midranks from the value histogram (the q_kruskal_wallis
    convention, the doubling cancels in the ratio): the relative
    effect p-hat = P(error > view) + P(=)/2 in ppm, and W^2 =
    n1^2 n2^2 (Rbar2-Rbar1)^2 / (N^2 (n1 S1^2 + n2 S2^2)) with the
    placement sample variances quantized once each — cross-checked
    against the two-proportion z on this data (W ~ 0.31 both ways).
    Pooled ranks ride the two-phase range-partition prefix; within-
    group ranks are grp-keyed windows.

    Scale: (value, group) aggregate -> value-histogram two-phase
    cumulative -> 2-group moment reduction -> 1-row pivot."""
    from ._twophase import global_order_stats
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    base = e.filter(F.col("event_type").isin("view", "error")).select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    vg = base.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("cnt"))
    hist = vg.groupBy("v").agg(F.sum("cnt").alias("tcnt"))
    pooled = global_order_stats(
        hist, [F.asc("v")], running_sums={"cum": F.col("tcnt")}, rn_col=None
    ).select("v", (2 * F.col("cum") - F.col("tcnt") + 1).alias("r2"))
    wg = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    within = vg.select(
        "grp",
        "v",
        "cnt",
        (2 * F.sum("cnt").over(wg) - F.col("cnt") + 1).alias("r2g"),
    )
    cells = within.join(pooled, "v").select(
        "grp", "cnt", (F.col("r2") - F.col("r2g")).alias("p2"), "r2"
    )
    g = cells.groupBy("grp").agg(
        F.expr("CAST(SUM(cnt) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(SUM(cnt * r2) AS DECIMAL(38,0))").alias("sr"),
        F.expr("CAST(SUM(cnt * p2) AS DECIMAL(38,0))").alias("sp"),
        F.expr("CAST(SUM(cnt * p2 * p2) AS DECIMAL(38,0))").alias("spp"),
    )
    w = g.agg(
        F.expr("MAX(CASE WHEN grp = 'view' THEN n END)").alias("n1"),
        F.expr("MAX(CASE WHEN grp = 'view' THEN sr END)").alias("sra"),
        F.expr("MAX(CASE WHEN grp = 'view' THEN sp END)").alias("sp1"),
        F.expr("MAX(CASE WHEN grp = 'view' THEN spp END)").alias("spp1"),
        F.expr("MAX(CASE WHEN grp = 'error' THEN n END)").alias("n2"),
        F.expr("MAX(CASE WHEN grp = 'error' THEN sr END)").alias("srb"),
        F.expr("MAX(CASE WHEN grp = 'error' THEN sp END)").alias("sp2"),
        F.expr("MAX(CASE WHEN grp = 'error' THEN spp END)").alias("spp2"),
    )
    return w.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.expr(
            "CAST((1000000 * srb) div n2 - (1000000 * sra) div n1"
            " AS BIGINT)"
        ).alias("delta_d_micro"),
        F.expr(
            "CAST((1000 * n1*n1*n2*n2"
            " * (((1000000*srb) div n2 - (1000000*sra) div n1))"
            " * (((1000000*srb) div n2 - (1000000*sra) div n1)))"
            " div (1000000000000 * (n1+n2) * (n1+n2)"
            " * (n1 * CAST((n1*spp1 - sp1*sp1) div (n1*(n1-1))"
            "       AS DECIMAL(38,0))"
            "  + n2 * CAST((n2*spp2 - sp2*sp2) div (n2*(n2-1))"
            "       AS DECIMAL(38,0)))) AS BIGINT)"
        ).alias("t2_milli"),
        F.expr(
            "CAST((1000000 * (srb - n2*(n2+1))) div (2*n1*n2) AS BIGINT)"
        ).alias("phat_ppm"),
    )


# ---------------------------------------------------------------------
# q_cmh_chi2 (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_cmh_chi2",
    oracle=f"""
    WITH votes AS (
      SELECT lang,
             CASE WHEN n_chars > {_MH_CHAR_THRESHOLD} THEN 1 ELSE 0 END
               AS expo,
             CASE WHEN len(list_distinct(list_filter(
                      string_split(text, ' '),
                      t -> t IN ('the','and','of','to','a','in','is'))))
                       >= 2
                  THEN 1 ELSE 0 END AS outc
      FROM documents
    ),
    s AS (
      SELECT lang,
             CAST(SUM(expo * outc) AS HUGEINT) AS a,
             CAST(SUM(expo) AS HUGEINT) AS r1,
             CAST(SUM(outc) AS HUGEINT) AS c1,
             CAST(COUNT(*) AS HUGEINT) AS nt
      FROM votes GROUP BY lang
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k_strata,
             CAST(SUM((1000000 * (a * nt - r1 * c1)) // nt) AS BIGINT)
               AS dev_micro,
             CAST(SUM(CASE WHEN nt > 1 THEN
                   (1000000 * r1 * c1 * (nt - r1) * (nt - c1))
                   // (nt * nt * (nt - 1))
                   ELSE 0 END) AS BIGINT) AS var_micro
      FROM s
    )
    SELECT k_strata, dev_micro, var_micro,
           CAST((dev_micro * dev_micro) // (1000 * var_micro) AS BIGINT)
             AS chi2_milli
    FROM t
    """,
    tags=("testing", "cmh", "stratified", "statistics"),
)
def q_cmh_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel chi-squared over the SAME language
    strata as q_mantel_haenszel — the SIGNIFICANCE companion to its
    effect size (OR ~ 9.7 says HOW STRONG the length/stopword
    association is after controlling for language; this says it is
    not chance: chi^2 = (sum(a_i - E_i))^2 / sum(V_i) with the
    hypergeometric E and V). Per-stratum deviation and variance are
    each micro-quantized with ONE truncating division before the
    exact sums (the per-term-quantization rule), then one final
    division — integers end to end.

    Scale: one map-side two-mark projection, a |langs|-group
    aggregate, a 1-row reduction."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    stop = F.array_distinct(
        F.filter(
            toks,
            lambda t: t.isin("the", "and", "of", "to", "a", "in", "is"),
        )
    )
    votes = d.select(
        "lang",
        F.when(F.col("n_chars") > _MH_CHAR_THRESHOLD, 1)
        .otherwise(0)
        .alias("expo"),
        F.when(F.size(stop) >= 2, 1).otherwise(0).alias("outc"),
    )
    s = votes.groupBy("lang").agg(
        F.expr("CAST(SUM(expo * outc) AS DECIMAL(38,0))").alias("a"),
        F.expr("CAST(SUM(expo) AS DECIMAL(38,0))").alias("r1"),
        F.expr("CAST(SUM(outc) AS DECIMAL(38,0))").alias("c1"),
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("nt"),
    )
    t = s.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("k_strata"),
        F.expr(
            "CAST(SUM((1000000 * (a * nt - r1 * c1)) div nt) AS BIGINT)"
        ).alias("dev_micro"),
        F.expr(
            "CAST(SUM(CASE WHEN nt > 1 THEN"
            " (1000000 * r1 * c1 * (nt - r1) * (nt - c1))"
            " div (nt * nt * (nt - 1))"
            " ELSE 0 END) AS BIGINT)"
        ).alias("var_micro"),
    )
    return t.select(
        "k_strata",
        "dev_micro",
        "var_micro",
        F.expr(
            "CAST((CAST(dev_micro AS DECIMAL(38,0)) * dev_micro)"
            " div (1000 * CAST(var_micro AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("chi2_milli"),
    )


# ---------------------------------------------------------------------
# q_sign_test (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_sign_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS p,
             CAST(SUM(CASE WHEN event_type = 'view'
                  THEN CAST(ROUND(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS v
      FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1
    ),
    t AS (
      SELECT CAST(COUNT(*) FILTER (p <> v) AS BIGINT) AS n_eff,
             CAST(COUNT(*) FILTER (p > v) AS BIGINT) AS s_plus
      FROM daily
    )
    SELECT n_eff, s_plus,
           CAST((1000 * (2 * s_plus - n_eff) * (2 * s_plus - n_eff))
                // n_eff AS BIGINT) AS z2_milli
    FROM t
    """,
    tags=("testing", "sign-test", "paired", "statistics"),
)
def q_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test on daily purchase-vs-view revenue — the
    COARSEST paired-location test (only the sign of each day's
    difference counts), completing the paired ladder: sign test
    (signs only, no distribution assumptions at all) ->
    q_wilcoxon_signed_rank (signs + rank magnitudes) ->
    q_welch_ttest's paired analog (full values, normal theory). Ties
    drop per convention; z^2 = (2S - n)^2 / n against the binomial
    null is a single truncating division of exact counts.

    Scale: one calendar-bounded daily conditional aggregate, one
    1-row reduction."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("p"),
            F.sum(
                F.when(
                    F.col("event_type") == "view",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("v"),
        )
    )
    t = daily.agg(
        F.count(F.when(F.col("p") != F.col("v"), 1)).alias("n_eff"),
        F.count(F.when(F.col("p") > F.col("v"), 1)).alias("s_plus"),
    )
    return t.select(
        "n_eff",
        "s_plus",
        F.expr(
            "CAST((1000 * (2 * s_plus - n_eff) * (2 * s_plus - n_eff))"
            " div n_eff AS BIGINT)"
        ).alias("z2_milli"),
    )


# ---------------------------------------------------------------------
# q_turning_points (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_turning_points",
    oracle="""
    WITH daily AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    tri AS (
      SELECT a.y AS y0, b.y AS y1, c.y AS y2
      FROM daily a
      JOIN daily b ON b.x = a.x + 1
      JOIN daily c ON c.x = a.x + 2
    ),
    t AS (
      SELECT CAST(COUNT(*) + 2 AS BIGINT) AS n,
             CAST(SUM(CASE WHEN (y1 > y0 AND y1 > y2)
                             OR (y1 < y0 AND y1 < y2)
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM tri
    )
    SELECT n, tp, CAST(2 * n - 4 AS BIGINT) AS e3,
           CAST((90000 * (3 * tp - (2 * n - 4))
                       * (3 * tp - (2 * n - 4)))
                // (9 * (16 * n - 29)) AS BIGINT) AS z2_milli
    FROM t
    """,
    tags=("testing", "turning-points", "randomness", "timeseries"),
)
def q_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points randomness test on the daily event-count series
    — counts local peaks and troughs against the exact i.i.d. null
    E[T] = 2(n-2)/3, Var[T] = (16n-29)/90: too FEW turning points
    means trend/persistence, too MANY means alternation. Complements
    q_runs_test (level crossings) and q_ljung_box (linear
    correlation) with a shape-free serial-dependence read. The thirds
    clear exactly by tripling (e3 = 3*E[T]), so z^2 is one truncating
    division of exact integers; the triple pairing is two day-ordinal
    equi-joins — no window.

    Scale: calendar-bounded daily aggregate, two tiny equi-joins, a
    1-row reduction."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x")
    ).agg(F.count(F.lit(1)).alias("y"))
    a = daily.select(F.col("x").alias("x0"), F.col("y").alias("y0"))
    b = daily.select(F.col("x").alias("x1"), F.col("y").alias("y1"))
    c = daily.select(F.col("x").alias("x2"), F.col("y").alias("y2"))
    tri = a.join(b, F.col("x1") == F.col("x0") + 1).join(
        c, F.col("x2") == F.col("x0") + 2
    )
    t = tri.agg(
        (F.count(F.lit(1)) + 2).cast("long").alias("n"),
        F.sum(
            F.when(
                ((F.col("y1") > F.col("y0")) & (F.col("y1") > F.col("y2")))
                | ((F.col("y1") < F.col("y0")) & (F.col("y1") < F.col("y2"))),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("tp"),
    )
    return t.select(
        "n",
        "tp",
        F.expr("CAST(2 * n - 4 AS BIGINT)").alias("e3"),
        F.expr(
            "CAST((90000 * (3 * tp - (2 * n - 4))"
            " * (3 * tp - (2 * n - 4)))"
            " div (9 * (16 * n - 29)) AS BIGINT)"
        ).alias("z2_milli"),
    )

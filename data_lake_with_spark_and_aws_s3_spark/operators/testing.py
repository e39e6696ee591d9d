"""Hypothesis-testing and data-adequacy battery (rounds 6-7) — the
"is this slice of the corpus big enough / different enough" questions a
100 TB curation pipeline answers before spending GPU-hours: one-way
ANOVA across strata, a Fisher-style randomization test, a
Wald–Wolfowitz runs test on a revenue series, a sequential probability
ratio test (SPRT) over an event stream, and a Hoeffding sample-adequacy
audit per language (the power/MDE sizing report lives in stats.py).
Round 7 adds the non-parametric / robustness row: Kruskal-Wallis
(rank-based one-way, two-phase distributed ranks), Brown-Forsythe
Levene (equal spread), and Cochran-Armitage (ordered trend).

Cross-engine exactness (the [[oracle-exactness-playbook]] rules used
throughout this repo): every statistic is assembled from EXACT integer
moments (cents / counts); any libm call (ln) or multi-term float sum is
quantized per-term to integer micro-units with ROUND before an exact
integer SUM (the q_entropy_profile treatment), so the only doubles in
the hashed surface are single IEEE operations over exactly-equal
operands — identical on any IEEE-754 engine. Constants that would need
libm at query time (ln of fixed design parameters, z quantiles) are
precomputed and embedded as integer literals.

Scale: every query here is scan -> one or two hash aggregates; the
randomization test's P resamples fan out map-side via
explode(sequence(...)) and collapse in ONE partial->final aggregate, so
the shuffle carries P x |groups| rows, never P x N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.loader import load_table
from ._sqlutil import _hex_val_sql
from ._twophase import global_order_stats

# ---------------------------------------------------------------------
# q_anova_oneway
# ---------------------------------------------------------------------

_ANOVA_Q = 1_000_000  # cents^2 are re-scaled by 1e6 before ROUND so the
# per-group quadratic terms stay far under 2^53 at any plausible SF


@query(
    "q_anova_oneway",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    g AS (
      SELECT grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sy,
             CAST(SUM(CAST(ROUND(CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE)
                                 / {_ANOVA_Q}) AS BIGINT)) AS BIGINT) AS syy_sc
      FROM base GROUP BY grp
    ),
    t AS (
      SELECT grp, n, sy, syy_sc,
             CAST(ROUND(CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                        / CAST(n AS DOUBLE) / {_ANOVA_Q}) AS BIGINT) AS t_sc
      FROM g
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(sy) AS BIGINT) AS ssy,
             CAST(SUM(t_sc) AS BIGINT) AS sum_t,
             CAST(SUM(syy_sc) AS BIGINT) AS sum_syy,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM t
    )
    SELECT t.grp, t.n, t.sy AS sum_cents,
           CAST(t.sy AS DOUBLE) / CAST(t.n AS DOUBLE) AS mean_cents,
           CAST(tot.sum_t - CAST(ROUND(CAST(tot.ssy AS DOUBLE)
                                       * CAST(tot.ssy AS DOUBLE)
                                       / CAST(tot.nn AS DOUBLE)
                                       / {_ANOVA_Q}) AS BIGINT)
                AS BIGINT) AS ssb_scaled,
           CAST(tot.sum_syy - tot.sum_t AS BIGINT) AS ssw_scaled,
           CAST(tot.sum_t - CAST(ROUND(CAST(tot.ssy AS DOUBLE)
                                       * CAST(tot.ssy AS DOUBLE)
                                       / CAST(tot.nn AS DOUBLE)
                                       / {_ANOVA_Q}) AS BIGINT) AS DOUBLE)
             * CAST(tot.nn - tot.k AS DOUBLE)
             / (CAST(tot.sum_syy - tot.sum_t AS DOUBLE)
                * CAST(tot.k - 1 AS DOUBLE)) AS f_stat
    FROM t, tot
    """,
    tags=("testing", "anova", "statistics"),
)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across the five order-priority
    strata: per-group moments plus the global F statistic on every row
    (the decision surface for "does this stratum dimension matter
    before we stratify the sample on it").

    Exactness: n/Σy are exact BIGINTs; the quadratic terms Σy² and
    (Σy)²/n leave int64 range at scale, so each is computed as a single
    IEEE expression over exactly-representable operands, re-scaled by
    1e-6 and ROUNDed to an integer BEFORE any cross-row/cross-group
    summation — sums are then exact and order-free. F is one final
    division of exact integers: F = SSB·(N−k) / (SSW·(k−1)).

    Scale: two hash aggregates (rows→groups→1) plus a broadcastable
    1-row cross join back onto the k-row group table; the scan is the
    only data-sized stage."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    g = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sy"),
        F.sum(
            F.round(
                F.col("cents").cast("double")
                * F.col("cents").cast("double")
                / F.lit(_ANOVA_Q)
            ).cast("long")
        ).alias("syy_sc"),
    )
    t = g.withColumn(
        "t_sc",
        F.round(
            F.col("sy").cast("double")
            * F.col("sy").cast("double")
            / F.col("n").cast("double")
            / F.lit(_ANOVA_Q)
        ).cast("long"),
    )
    tot = t.agg(
        F.sum("n").alias("nn"),
        F.sum("sy").alias("ssy"),
        F.sum("t_sc").alias("sum_t"),
        F.sum("syy_sc").alias("sum_syy"),
        F.count(F.lit(1)).alias("k"),
    )
    j = t.crossJoin(F.broadcast(tot))
    ssb = (
        F.col("sum_t")
        - F.round(
            F.col("ssy").cast("double")
            * F.col("ssy").cast("double")
            / F.col("nn").cast("double")
            / F.lit(_ANOVA_Q)
        ).cast("long")
    )
    ssw = F.col("sum_syy") - F.col("sum_t")
    return j.select(
        "grp",
        "n",
        F.col("sy").alias("sum_cents"),
        (F.col("sy").cast("double") / F.col("n").cast("double")).alias("mean_cents"),
        ssb.cast("long").alias("ssb_scaled"),
        ssw.cast("long").alias("ssw_scaled"),
        (
            ssb.cast("double")
            * (F.col("nn") - F.col("k")).cast("double")
            / (ssw.cast("double") * (F.col("k") - 1).cast("double"))
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------
# q_permutation_test
# ---------------------------------------------------------------------

_PERM_P = 199  # resamples; p-value granularity 1/200
_PERM_DENOM = 2**32 + 1


def _perm_u(concat: str) -> str:
    """Deterministic uniform in (0,1) per (doc, permutation) — the
    sampling.py md5 idiom with the permutation id folded into the
    salt."""
    if concat == "spark":
        h = "md5(concat(cast(doc_id as string), '#p', cast(p as string)))"
    else:
        h = "md5(CAST(doc_id AS VARCHAR) || '#p' || CAST(p AS VARCHAR))"
    return f"(({_hex_val_sql(h, 8)}) + 1.0) / {float(_PERM_DENOM)!r}"


@query(
    "q_permutation_test",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, n_chars, CAST(lang = 'en' AS INTEGER) AS treat
      FROM documents
    ),
    obs AS (
      SELECT CAST(SUM(treat) AS BIGINT) AS nt,
             CAST(SUM(1 - treat) AS BIGINT) AS nc,
             CAST(SUM(treat * n_chars) AS BIGINT) AS st,
             CAST(SUM((1 - treat) * n_chars) AS BIGINT) AS sc,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM base
    ),
    perms AS (
      SELECT p,
             CAST(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             CAST(SUM(CASE WHEN u < rate THEN n_chars ELSE 0 END) AS BIGINT)
               AS st,
             CAST(SUM(CASE WHEN u < rate THEN 0 ELSE 1 END) AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN u < rate THEN 0 ELSE n_chars END) AS BIGINT)
               AS sc
      FROM (
        SELECT b.doc_id, b.n_chars, g.p,
               {_perm_u("duck")} AS u,
               CAST(o.nt AS DOUBLE) / CAST(o.n AS DOUBLE) AS rate
        FROM base b, range(1, {_PERM_P + 1}) g(p), obs o
      )
      GROUP BY p
    ),
    stats AS (
      SELECT p,
             abs(CAST(st AS DOUBLE) / CAST(greatest(nt, 1) AS DOUBLE)
                 - CAST(sc AS DOUBLE) / CAST(greatest(nc, 1) AS DOUBLE))
               AS absdiff
      FROM perms
    )
    SELECT o.nt AS n_treat, o.nc AS n_control,
           CAST(o.st AS DOUBLE) / CAST(greatest(o.nt, 1) AS DOUBLE)
             - CAST(o.sc AS DOUBLE) / CAST(greatest(o.nc, 1) AS DOUBLE)
             AS obs_diff,
           CAST((SELECT COUNT(*) FROM stats s, obs o2
                 WHERE s.absdiff >= abs(CAST(o2.st AS DOUBLE)
                                          / CAST(greatest(o2.nt, 1) AS DOUBLE)
                                        - CAST(o2.sc AS DOUBLE)
                                          / CAST(greatest(o2.nc, 1) AS DOUBLE)))
                AS BIGINT) AS n_as_extreme,
           (CAST((SELECT COUNT(*) FROM stats s, obs o2
                  WHERE s.absdiff >= abs(CAST(o2.st AS DOUBLE)
                                           / CAST(greatest(o2.nt, 1) AS DOUBLE)
                                         - CAST(o2.sc AS DOUBLE)
                                           / CAST(greatest(o2.nc, 1) AS DOUBLE)))
                 AS DOUBLE) + 1.0) / {float(_PERM_P + 1)!r} AS p_value
    FROM obs o
    """,
    tags=("testing", "permutation", "randomization", "statistics"),
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher-style randomization test for "are English documents
    longer?": observed mean n_chars difference (en vs rest) against 199
    deterministic label reassignments. Reassignment is Bernoulli at the
    observed treatment rate with an md5(doc_id, perm) coin (the
    repo-standard derandomized coin — reproducible under retries,
    engine-identical), i.e. a randomization test with binomial rather
    than fixed-margin resampling; the docstring states this honestly
    because exact-size permutations would need a P x N global sort.

    Exactness: every per-perm statistic is a division of exact integer
    sums; the extreme-count compares identically-derived doubles, so
    the count and p-value hash exactly.

    Scale: the P resamples are generated map-side with
    explode(sequence(1, P)) and collapse in ONE partial->final hash
    aggregate keyed by p — shuffle traffic is P rows of partial sums
    per task, never P x N rows."""
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", (F.col("lang") == "en").cast("int").alias("treat")
    )
    obs = base.agg(
        F.sum("treat").alias("nt"),
        F.sum(F.lit(1) - F.col("treat")).alias("nc"),
        F.sum(F.col("treat") * F.col("n_chars")).alias("st"),
        F.sum((F.lit(1) - F.col("treat")) * F.col("n_chars")).alias("sc"),
        F.count(F.lit(1)).alias("n"),
    )
    fan = base.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(1), F.lit(_PERM_P))).alias("p"),
    ).crossJoin(F.broadcast(obs.select("nt", "n")))
    fan = fan.withColumn("u", F.expr(_perm_u("spark"))).withColumn(
        "rate", F.col("nt").cast("double") / F.col("n").cast("double")
    )
    hit = F.col("u") < F.col("rate")
    perms = fan.groupBy("p").agg(
        F.sum(F.when(hit, 1).otherwise(0)).alias("pnt"),
        F.sum(F.when(hit, F.col("n_chars")).otherwise(0)).alias("pst"),
        F.sum(F.when(hit, 0).otherwise(1)).alias("pnc"),
        F.sum(F.when(hit, 0).otherwise(F.col("n_chars"))).alias("psc"),
    )
    absdiff = F.abs(
        F.col("pst").cast("double") / F.greatest(F.col("pnt"), F.lit(1)).cast("double")
        - F.col("psc").cast("double") / F.greatest(F.col("pnc"), F.lit(1)).cast("double")
    )
    # greatest(.,1) guards: a corpus with zero treated (or control)
    # docs must yield a DEFINED diff on both engines, not an engine-
    # divergent 0-division (Spark non-ANSI NULL vs DuckDB inf)
    obs_diff = F.col("st").cast("double") / F.greatest(
        F.col("nt"), F.lit(1)
    ).cast("double") - F.col("sc").cast("double") / F.greatest(
        F.col("nc"), F.lit(1)
    ).cast("double")
    scored = perms.crossJoin(F.broadcast(obs)).select(
        "nt", "nc", "st", "sc", (absdiff >= F.abs(obs_diff)).cast("int").alias("ex")
    )
    return scored.groupBy("nt", "nc", "st", "sc").agg(
        F.sum("ex").alias("n_extreme")
    ).select(
        F.col("nt").alias("n_treat"),
        F.col("nc").alias("n_control"),
        obs_diff.alias("obs_diff"),
        F.col("n_extreme").cast("long").alias("n_as_extreme"),
        (
            (F.col("n_extreme").cast("double") + F.lit(1.0))
            / F.lit(float(_PERM_P + 1))
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------
# q_runs_test
# ---------------------------------------------------------------------


@query(
    "q_runs_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    signs AS (
      SELECT d, CASE WHEN cents > lag(cents) OVER (ORDER BY d)
                     THEN 1 ELSE 0 END AS s,
             lag(cents) OVER (ORDER BY d) AS prev
      FROM daily
    ),
    seq AS (
      SELECT s, lag(s) OVER (ORDER BY d) AS ps
      FROM signs WHERE prev IS NOT NULL
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS n_up,
             CAST(SUM(1 - s) AS BIGINT) AS n_down,
             CAST(1 + SUM(CASE WHEN ps IS NOT NULL AND s <> ps
                               THEN 1 ELSE 0 END) AS BIGINT) AS runs
      FROM seq
    )
    SELECT n AS n_days, n_up, n_down, runs AS n_runs,
           CASE WHEN n_up > 0 AND n_down > 0 AND n > 1
                 AND 2 * n_up * n_down > n THEN
             (CAST(runs AS DOUBLE)
              - (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                 / CAST(n AS DOUBLE) + 1.0))
             / sqrt(2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                    * (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                       - CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n - 1 AS DOUBLE)))
           END AS z_stat
    FROM m
    """,
    tags=("testing", "runs-test", "time-series", "statistics"),
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of the daily-revenue
    up/down sequence: a drifting or autocorrelated series produces too
    few runs, noise produces ~the expected count. Companion to
    q_mann_kendall (trend) and q_cusum_drift (changepoint) — this one
    tests the SIGNS, so it is distribution-free.

    Exactness: the up/down sequence and run count are exact integers
    off two lag windows; z is a single expression over those integers
    (identical IEEE ops both engines).

    Scale: one date-keyed aggregate (days are few), then single-
    partition windows over the day table — the window input is
    |days| rows, not |orders|."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderdate").cast("date").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.orderBy("d")
    signs = daily.select(
        "d",
        F.when(F.col("cents") > F.lag("cents").over(w), 1).otherwise(0).alias("s"),
        F.lag("cents").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    seq = signs.select("s", F.lag("s").over(Window.orderBy("d")).alias("ps"))
    m = seq.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s").alias("n_up"),
        F.sum(F.lit(1) - F.col("s")).alias("n_down"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("ps").isNotNull() & (F.col("s") != F.col("ps")), 1
                ).otherwise(0)
            )
        ).alias("runs"),
    )
    nd, ud, dd, rd = (
        F.col("n").cast("double"),
        F.col("n_up").cast("double"),
        F.col("n_down").cast("double"),
        F.col("runs").cast("double"),
    )
    mu = F.lit(2.0) * ud * dd / nd + F.lit(1.0)
    var = (
        F.lit(2.0)
        * ud
        * dd
        * (F.lit(2.0) * ud * dd - nd)
        / (nd * nd * (nd - F.lit(1.0)))
    )
    # degenerate-series guard: a monotone (or too-short) sign sequence
    # has Var(R) = 0 — emit a defined NULL on both engines instead of
    # an engine-divergent 0-division
    defined = (
        (F.col("n_up") > 0)
        & (F.col("n_down") > 0)
        & (F.col("n") > 1)
        & (2 * F.col("n_up") * F.col("n_down") > F.col("n"))
    )
    return m.select(
        F.col("n").alias("n_days"),
        "n_up",
        "n_down",
        F.col("runs").cast("long").alias("n_runs"),
        F.when(defined, (rd - mu) / F.sqrt(var)).alias("z_stat"),
    )


# ---------------------------------------------------------------------
# q_sprt_boundary
# ---------------------------------------------------------------------

# SPRT design constants, precomputed (python round(ln(x) * 1e6)) and
# embedded as integer micro-nat literals so no libm runs at query time:
#   H0: purchase rate p0 = 0.15      H1: p1 = 0.20
#   alpha = beta = 0.05
_SPRT_L1 = 287_682  # ln(p1/p0) * 1e6
_SPRT_L0 = -60_625  # ln((1-p1)/(1-p0)) * 1e6
_SPRT_A = 2_944_439  # ln((1-beta)/alpha) * 1e6  (accept H1 at/above)
_SPRT_B = -2_944_439  # ln(beta/(1-alpha)) * 1e6 (accept H0 at/below)
_SPRT_STEP = 500  # checkpoint every 500 events


@query(
    "q_sprt_boundary",
    oracle=f"""
    WITH ordered AS (
      SELECT CAST(event_type = 'purchase' AS INTEGER) AS hit,
             ROW_NUMBER() OVER (ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS rn
      FROM events
    ),
    cum AS (
      SELECT rn AS n_seen,
             CAST(SUM(hit) OVER (ORDER BY rn) AS BIGINT) AS k
      FROM ordered
    )
    SELECT n_seen, k,
           CAST(k * {_SPRT_L1} + (n_seen - k) * {_SPRT_L0} AS BIGINT)
             AS llr_mnats,
           CASE WHEN k * {_SPRT_L1} + (n_seen - k) * {_SPRT_L0}
                     >= {_SPRT_A} THEN 'accept_h1'
                WHEN k * {_SPRT_L1} + (n_seen - k) * {_SPRT_L0}
                     <= {_SPRT_B} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM cum
    WHERE n_seen % {_SPRT_STEP} = 0
    """,
    tags=("testing", "sprt", "sequential", "streaming-adjacent"),
)
def q_sprt_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability ratio test over the event stream in
    arrival order: is the purchase rate 0.20 (H1) or 0.15 (H0)?
    Emits the log-likelihood-ratio trajectory at every 500th event with
    the SPRT decision — the sequential A/B monitor that stops a test as
    soon as the evidence crosses a boundary instead of waiting for a
    fixed horizon.

    Exactness: the LLR over Bernoulli trials is k·ln(p1/p0) +
    (n−k)·ln((1−p1)/(1−p0)); both log factors and both Wald boundaries
    are DESIGN constants, precomputed to integer micro-nats and
    embedded as literals, so the whole trajectory is exact integer
    arithmetic — no libm at query time at all.

    Scale (VERDICT r6 #2 fix): a bare `Window.orderBy(ts)` would
    collapse the whole events table into ONE task. Instead the
    two-phase _twophase.global_order_stats on (ts, event_id) gives the
    global n_seen (row number) and k (running hit sum) from
    per-partition local windows plus broadcast per-partition offsets.
    The sort key (ts, event_id) is unique, so the output is identical
    to the single-task form regardless of sampled range boundaries.
    Cost: one range exchange + one tiny offset exchange; every
    data-proportional stage is partition-parallel. In production the
    same integer LLR update runs inside a stateful streaming operator
    keyed by experiment id."""
    e = load_table(spark, sf_dir, "events").select(
        (F.col("event_type") == "purchase").cast("int").alias("hit"),
        "ts",
        "event_id",
    )
    cum = global_order_stats(
        e,
        [F.asc("ts"), F.asc("event_id")],
        running_sums={"k": F.col("hit")},
        rn_col="n_seen",
    ).filter(F.col("n_seen") % _SPRT_STEP == 0)
    llr = F.col("k") * F.lit(_SPRT_L1) + (F.col("n_seen") - F.col("k")) * F.lit(
        _SPRT_L0
    )
    return cum.select(
        F.col("n_seen").cast("long").alias("n_seen"),
        "k",
        llr.cast("long").alias("llr_mnats"),
        F.when(llr >= _SPRT_A, F.lit("accept_h1"))
        .when(llr <= _SPRT_B, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


# ---------------------------------------------------------------------
# q_hoeffding_adequacy
# ---------------------------------------------------------------------

_HOEFF_LN = 5_298_317  # ln(2/delta)*1e6 at delta = 0.01, precomputed
_HOEFF_TARGET = 0.02  # want the mean pinned within +-2pp
_HOEFF_MINLEN = 200  # "long document" proxy threshold


@query(
    "q_hoeffding_adequacy",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_chars >= {_HOEFF_MINLEN} AS INTEGER)) AS BIGINT)
             AS n_long,
           CAST(SUM(CAST(n_chars >= {_HOEFF_MINLEN} AS INTEGER)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS p_hat,
           sqrt({_HOEFF_LN} / 1e6 / (2.0 * CAST(COUNT(*) AS DOUBLE)))
             AS epsilon,
           sqrt({_HOEFF_LN} / 1e6 / (2.0 * CAST(COUNT(*) AS DOUBLE)))
             <= {_HOEFF_TARGET} AS adequate
    FROM documents
    GROUP BY lang
    """,
    tags=("testing", "hoeffding", "adequacy", "llm-pipeline"),
)
def q_hoeffding_adequacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free sample-adequacy audit per language: with
    probability 1−δ the observed long-document share is within
    ε = sqrt(ln(2/δ) / 2n) of truth (Hoeffding) — so "is each language
    slice big enough to trust its quality metrics to ±2pp at δ=0.01?"
    The question every per-language curation threshold silently
    assumes; under-sampled languages get flagged instead of filtered
    on noise.

    Exactness: counts exact; ln(2/δ) is a precomputed integer literal;
    ε is a single sqrt over exactly-equal operands. One hash aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_chars") >= _HOEFF_MINLEN).cast("int")).alias("n_long"),
    )
    eps = F.sqrt(
        F.lit(_HOEFF_LN) / F.lit(1e6) / (F.lit(2.0) * F.col("n_docs").cast("double"))
    )
    return g.select(
        "lang",
        "n_docs",
        F.col("n_long").cast("long").alias("n_long"),
        (F.col("n_long").cast("double") / F.col("n_docs").cast("double")).alias(
            "p_hat"
        ),
        eps.alias("epsilon"),
        (eps <= F.lit(_HOEFF_TARGET)).alias("adequate"),
    )


# ---------------------------------------------------------------------
# q_friedman_test (round 6)
# ---------------------------------------------------------------------

_FRIEDMAN_K = 5  # treatments = the five order priorities
_FRIEDMAN_CRIT = 9.487729036781154  # chi2_{0.95, df=4}, precomputed


@query(
    "q_friedman_test",
    oracle=f"""
    WITH cell AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
                  AS DATE) AS d,
             o_orderpriority AS trt,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ),
    complete AS (
      SELECT d FROM cell GROUP BY d HAVING COUNT(*) = {_FRIEDMAN_K}
    ),
    ranked AS (
      SELECT c.d, c.trt,
             CAST(ROW_NUMBER() OVER (PARTITION BY c.d
                                     ORDER BY c.cents, c.trt) AS BIGINT)
               AS rk
      FROM cell c JOIN complete USING (d)
    ),
    rsum AS (
      SELECT trt,
             CAST(SUM(rk) AS BIGINT) AS rank_sum,
             CAST(COUNT(*) AS BIGINT) AS n_blocks
      FROM ranked GROUP BY trt
    ),
    q AS (
      SELECT CAST(SUM(rank_sum * rank_sum) AS BIGINT) AS sr2,
             CAST(MAX(n_blocks) AS BIGINT) AS n
      FROM rsum
    )
    SELECT r.trt, r.rank_sum, r.n_blocks,
           CAST(12 * q.sr2
                - 3 * q.n * q.n * {_FRIEDMAN_K}
                    * ({_FRIEDMAN_K} + 1) * ({_FRIEDMAN_K} + 1) AS DOUBLE)
             / CAST(q.n * {_FRIEDMAN_K} * ({_FRIEDMAN_K} + 1) AS DOUBLE)
             AS q_stat,
           CAST(12 * q.sr2
                - 3 * q.n * q.n * {_FRIEDMAN_K}
                    * ({_FRIEDMAN_K} + 1) * ({_FRIEDMAN_K} + 1) AS DOUBLE)
             / CAST(q.n * {_FRIEDMAN_K} * ({_FRIEDMAN_K} + 1) AS DOUBLE)
             > {_FRIEDMAN_CRIT!r} AS significant
    FROM rsum r, q
    """,
    tags=("testing", "friedman", "rank-test", "statistics"),
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test across the five order priorities with MONTHS
    as blocks: within each complete month (all five priorities present)
    the priorities are ranked by monthly revenue, and Q = 12/(nk(k+1))·ΣR_j²
    − 3n(k+1) asks whether any priority SYSTEMATICALLY out-earns the
    others across months — the non-parametric repeated-measures ANOVA
    that pairs with q_anova_oneway (raw values) and q_mann_kendall
    (single-series trend).

    Determinism: monthly cells are exact cent sums (months, not days,
    so every shipped SF has complete, non-vacuous blocks — the
    round-3 sweep lesson); ranks are row_number with a priority-name
    tie-break (exact-cents ties between two priorities are possible
    in principle — the mid-rank
    correction is deliberately omitted and this estimator documented,
    keeping every rank an exact integer). Q is one division of exact
    integer products; the critical value chi2_{{0.95,4}} is a
    precomputed literal.

    Scale: one (month, priority) aggregate, a per-month rank window
    over 5-row partitions, and a k-row rollup — windows never see more
    than k rows per partition."""
    cell = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("d"),
            F.col("o_orderpriority").alias("trt"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    complete = (
        cell.groupBy("d")
        .agg(F.count(F.lit(1)).alias("kk"))
        .filter(F.col("kk") == _FRIEDMAN_K)
        .select("d")
    )
    ranked = cell.join(complete, "d").select(
        "d",
        "trt",
        F.row_number()
        .over(Window.partitionBy("d").orderBy("cents", "trt"))
        .cast("long")
        .alias("rk"),
    )
    rsum = ranked.groupBy("trt").agg(
        F.sum("rk").alias("rank_sum"), F.count(F.lit(1)).alias("n_blocks")
    )
    q = rsum.agg(
        F.sum(F.col("rank_sum") * F.col("rank_sum")).alias("sr2"),
        F.max("n_blocks").alias("n"),
    )
    k = _FRIEDMAN_K
    j = rsum.crossJoin(F.broadcast(q))
    q_stat = (
        12 * F.col("sr2") - 3 * F.col("n") * F.col("n") * k * (k + 1) * (k + 1)
    ).cast("double") / (F.col("n") * k * (k + 1)).cast("double")
    return j.select(
        "trt",
        "rank_sum",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        q_stat.alias("q_stat"),
        (q_stat > F.lit(_FRIEDMAN_CRIT)).alias("significant"),
    )


# ---------------------------------------------------------------------
# q_kruskal_wallis (round 7)
# ---------------------------------------------------------------------

_KW_Q = 1000  # per-group quadratic terms re-scaled by 1e3 before ROUND:
# R2_j^2/n_j <= 4N^3, so the scaled term stays under 2^53 to N ~ 1.3e6
# rows per tested tile; the quantization error (<= k*Q/2 in S) is the
# documented estimator choice, identical on both engines.


@query(
    "q_kruskal_wallis",
    oracle=f"""
    WITH base AS (
      SELECT source AS grp, n_chars AS x FROM documents
    ),
    vg AS (
      SELECT grp, x, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM base GROUP BY 1, 2
    ),
    v AS (
      SELECT x, CAST(SUM(cnt) AS BIGINT) AS tcnt FROM vg GROUP BY x
    ),
    r AS (
      SELECT x, tcnt,
             CAST(2 * SUM(tcnt) OVER (ORDER BY x) - tcnt + 1 AS BIGINT)
               AS r2
      FROM v
    ),
    g AS (
      SELECT grp,
             CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(cnt * r.r2) AS BIGINT) AS r2_sum
      FROM vg JOIN r USING (x) GROUP BY grp
    ),
    t AS (
      SELECT grp, n, r2_sum,
             CAST(ROUND(CAST(r2_sum AS DOUBLE) * CAST(r2_sum AS DOUBLE)
                        / CAST(n AS DOUBLE) / {_KW_Q}) AS BIGINT) AS term_sc
      FROM g
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(term_sc) AS BIGINT) AS s_sc,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM t
    ),
    ties AS (
      SELECT SUM(CAST(tcnt AS HUGEINT) * tcnt * tcnt - tcnt) AS sum_t3
      FROM v
    )
    SELECT t.grp, t.n, t.r2_sum,
           CAST(ROUND(1000.0 * (3.0 * CAST(tot.s_sc AS DOUBLE) * {_KW_Q}
                                / (CAST(tot.nn AS DOUBLE)
                                   * CAST(tot.nn + 1 AS DOUBLE))
                                - 3.0 * CAST(tot.nn + 1 AS DOUBLE)))
                AS BIGINT) AS h_milli,
           CAST(ROUND(1000.0 * (3.0 * CAST(tot.s_sc AS DOUBLE) * {_KW_Q}
                                / (CAST(tot.nn AS DOUBLE)
                                   * CAST(tot.nn + 1 AS DOUBLE))
                                - 3.0 * CAST(tot.nn + 1 AS DOUBLE))
                      / (1.0 - CAST(ties.sum_t3 AS DOUBLE)
                               / (CAST(tot.nn AS DOUBLE)
                                  * CAST(tot.nn AS DOUBLE)
                                  * CAST(tot.nn AS DOUBLE)
                                  - CAST(tot.nn AS DOUBLE))))
                AS BIGINT) AS h_corr_milli
    FROM t, tot, ties
    """,
    tags=("testing", "kruskal-wallis", "rank-test", "statistics"),
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across document SOURCES on document length:
    the non-parametric one-way test ("do the sources draw from the
    same length distribution?") that q_anova_oneway's normal-theory F
    cannot answer for the heavy-tailed length column. Emits per-source
    doubled rank sums plus H and the tie-corrected H on every row.

    Ranks are TIE-CORRECTED average ranks computed from the length
    HISTOGRAM — and the histogram's cumulative runs through the
    TWO-PHASE range-partition idiom (_twophase.py), so no single-task
    window exists even if the value domain were unbounded: doubled
    average rank r2(v) = 2*cum(v) - t(v) + 1 is an exact BIGINT.

    Exactness: counts and rank sums exact; each group's quadratic
    R2_j^2/n_j is one IEEE expression over exactly-representable
    operands re-scaled by 1e3 and ROUNDed before the exact cross-group
    sum (the q_anova_oneway treatment); the tie term sum(t^3 - t)
    accumulates in DECIMAL(38,0)/HUGEINT; H and H_corr are the same
    arithmetic expression evaluated over identical exact inputs on
    both engines, quantized to milli-units.

    Scale: one (value, group) hash aggregate over the scan, a
    value-histogram two-phase prefix sum, one k-row group aggregate,
    and 1-row stitches. The scan is the only data-sized stage."""
    base = load_table(spark, sf_dir, "documents").select(
        F.col("source").alias("grp"), F.col("n_chars").alias("x")
    )
    vg = base.groupBy("grp", "x").agg(F.count(F.lit(1)).alias("cnt"))
    v = vg.groupBy("x").agg(F.sum("cnt").alias("tcnt"))
    r = global_order_stats(
        v, [F.asc("x")], running_sums={"cum": F.col("tcnt")}, rn_col=None
    ).select("x", "tcnt", (2 * F.col("cum") - F.col("tcnt") + 1).alias("r2"))
    g = (
        vg.join(r.select("x", "r2"), "x")
        .groupBy("grp")
        .agg(
            F.sum("cnt").alias("n"),
            F.sum(F.col("cnt") * F.col("r2")).alias("r2_sum"),
        )
    )
    t = g.select(
        "grp",
        "n",
        "r2_sum",
        F.round(
            F.col("r2_sum").cast("double")
            * F.col("r2_sum").cast("double")
            / F.col("n").cast("double")
            / F.lit(_KW_Q)
        )
        .cast("long")
        .alias("term_sc"),
    )
    tot = t.agg(
        F.sum("n").alias("nn"),
        F.sum("term_sc").alias("s_sc"),
        F.count(F.lit(1)).alias("k"),
    )
    ties = v.agg(
        F.sum(
            F.col("tcnt").cast("decimal(38,0)") * F.col("tcnt") * F.col("tcnt")
            - F.col("tcnt")
        ).alias("sum_t3")
    )
    h = (
        F.lit(3.0)
        * F.col("s_sc").cast("double")
        * F.lit(_KW_Q)
        / (F.col("nn").cast("double") * (F.col("nn") + 1).cast("double"))
        - F.lit(3.0) * (F.col("nn") + 1).cast("double")
    )
    c = F.lit(1.0) - F.col("sum_t3").cast("double") / (
        F.col("nn").cast("double")
        * F.col("nn").cast("double")
        * F.col("nn").cast("double")
        - F.col("nn").cast("double")
    )
    return (
        t.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
        .select(
            "grp",
            "n",
            "r2_sum",
            F.round(F.lit(1000.0) * h).cast("long").alias("h_milli"),
            F.round(F.lit(1000.0) * h / c).cast("long").alias("h_corr_milli"),
        )
    )


# ---------------------------------------------------------------------
# q_levene_test (round 7, Brown-Forsythe variant)
# ---------------------------------------------------------------------


@query(
    "q_levene_test",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    vg AS (
      SELECT grp, cents, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM base GROUP BY 1, 2
    ),
    med AS (
      SELECT grp, CAST(MIN(cents) AS BIGINT) AS med_cents
      FROM (
        SELECT grp, cents,
               SUM(cnt) OVER (PARTITION BY grp ORDER BY cents) AS cum,
               SUM(cnt) OVER (PARTITION BY grp) AS ng
        FROM vg
      )
      WHERE cum >= (ng + 1) // 2
      GROUP BY grp
    ),
    z AS (
      SELECT b.grp, ABS(b.cents - m.med_cents) AS zv
      FROM base b JOIN med m ON b.grp = m.grp
    ),
    g AS (
      SELECT grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(zv) AS BIGINT) AS sz,
             CAST(SUM(CAST(ROUND(CAST(zv AS DOUBLE) * CAST(zv AS DOUBLE)
                                 / {_ANOVA_Q}) AS BIGINT)) AS BIGINT)
               AS szz_sc
      FROM z GROUP BY grp
    ),
    t AS (
      SELECT grp, n, sz, szz_sc,
             CAST(ROUND(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
                        / CAST(n AS DOUBLE) / {_ANOVA_Q}) AS BIGINT) AS t_sc
      FROM g
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(sz) AS BIGINT) AS ssz,
             CAST(SUM(t_sc) AS BIGINT) AS sum_t,
             CAST(SUM(szz_sc) AS BIGINT) AS sum_szz,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM t
    )
    SELECT t.grp, t.n, t.sz AS sum_absdev,
           CAST(t.sz AS DOUBLE) / CAST(t.n AS DOUBLE) AS mean_absdev,
           CAST(tot.sum_t - CAST(ROUND(CAST(tot.ssz AS DOUBLE)
                                       * CAST(tot.ssz AS DOUBLE)
                                       / CAST(tot.nn AS DOUBLE)
                                       / {_ANOVA_Q}) AS BIGINT) AS DOUBLE)
             * CAST(tot.nn - tot.k AS DOUBLE)
             / (CAST(tot.sum_szz - tot.sum_t AS DOUBLE)
                * CAST(tot.k - 1 AS DOUBLE)) AS w_stat
    FROM t, tot
    """,
    tags=("testing", "levene", "brown-forsythe", "variance", "statistics"),
)
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centred Levene) test for EQUAL SPREAD of
    order value across the five priorities — the homoscedasticity
    check q_anova_oneway silently assumes: W is the one-way F computed
    on z = |cents - group median| instead of the raw values. A
    significant W says the priorities differ in dispersion even if
    their means agree.

    The group median is the exact LOWER order statistic from each
    group's value histogram (cumulative window PARTITIONED by group —
    parallel across groups; engine MEDIAN interpolates even counts and
    rounds the .5 differently on the two engines, so it is avoided).
    z is then an exact BIGINT and the whole q_anova_oneway exactness
    treatment applies verbatim: quadratics quantized per group before
    exact sums, W one final division of exact integers.

    Scale: one (group, value) histogram aggregate, a per-group
    cumulative over distinct values, a 5-row broadcast median join
    back onto the scan, then the two ANOVA hash aggregates. At 100 TB
    the per-group cumulative upgrades to the _twophase.py idiom keyed
    by group."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    vg = base.groupBy("grp", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_grp = Window.partitionBy("grp")
    med = (
        vg.select(
            "grp",
            "cents",
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_grp).alias("ng"),
        )
        .filter(F.expr("cum >= (ng + 1) div 2"))
        .groupBy("grp")
        .agg(F.min("cents").alias("med_cents"))
    )
    z = base.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("cents") - F.col("med_cents")).alias("zv")
    )
    g = z.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("zv").alias("sz"),
        F.sum(
            F.round(
                F.col("zv").cast("double")
                * F.col("zv").cast("double")
                / F.lit(_ANOVA_Q)
            ).cast("long")
        ).alias("szz_sc"),
    )
    t = g.select(
        "grp",
        "n",
        "sz",
        "szz_sc",
        F.round(
            F.col("sz").cast("double")
            * F.col("sz").cast("double")
            / F.col("n").cast("double")
            / F.lit(_ANOVA_Q)
        )
        .cast("long")
        .alias("t_sc"),
    )
    tot = t.agg(
        F.sum("n").alias("nn"),
        F.sum("sz").alias("ssz"),
        F.sum("t_sc").alias("sum_t"),
        F.sum("szz_sc").alias("sum_szz"),
        F.count(F.lit(1)).alias("k"),
    )
    gm_sc = F.round(
        F.col("ssz").cast("double")
        * F.col("ssz").cast("double")
        / F.col("nn").cast("double")
        / F.lit(_ANOVA_Q)
    ).cast("long")
    return t.crossJoin(F.broadcast(tot)).select(
        "grp",
        "n",
        F.col("sz").alias("sum_absdev"),
        (F.col("sz").cast("double") / F.col("n").cast("double")).alias(
            "mean_absdev"
        ),
        (
            (F.col("sum_t") - gm_sc).cast("double")
            * (F.col("nn") - F.col("k")).cast("double")
            / (
                (F.col("sum_szz") - F.col("sum_t")).cast("double")
                * (F.col("k") - 1).cast("double")
            )
        ).alias("w_stat"),
    )


# ---------------------------------------------------------------------
# q_cochran_armitage (round 7)
# ---------------------------------------------------------------------

_CA_CRIT_MILLI = 3841  # chi2_{0.95, df=1} * 1000, precomputed


@query(
    "q_cochran_armitage",
    oracle=f"""
    WITH g AS (
      SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS w,
             o_orderpriority AS grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_orderstatus = 'F' AS INTEGER)) AS BIGINT)
               AS cases
      FROM orders GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(n) AS HUGEINT) AS nn,
             CAST(SUM(cases) AS HUGEINT) AS rr,
             CAST(SUM(w * cases) AS HUGEINT) AS swr,
             CAST(SUM(w * n) AS HUGEINT) AS swn,
             CAST(SUM(w * w * n) AS HUGEINT) AS sw2n
      FROM g
    ),
    s AS (
      SELECT nn, rr,
             nn * swr - rr * swn AS nt,
             nn * sw2n - swn * swn AS sp
      FROM tot
    )
    SELECT g.grp, g.w, g.n, g.cases,
           CAST((1000 * s.nt * s.nt * s.nn)
                // (s.rr * (s.nn - s.rr) * s.sp) AS BIGINT) AS z2_milli,
           CAST((1000 * s.nt * s.nt * s.nn)
                // (s.rr * (s.nn - s.rr) * s.sp) AS BIGINT)
             > {_CA_CRIT_MILLI} AS trend_significant
    FROM g, s
    """,
    tags=("testing", "cochran-armitage", "trend", "statistics"),
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the share of FINISHED orders
    move MONOTONICALLY with order priority (scores w = 1..5 parsed
    from the priority label)? The ordered-categories companion to
    q_chi_square — chi-square asks "any difference", this asks
    "a directional trend", with one df instead of k-1.

    Exactness: the statistic is assembled ENTIRELY from exact integer
    moments — N·T = N·Σw·r − R·Σw·n and s' = N·Σw²n − (Σwn)², giving
    z² = (N·T)²·N / (R·(N−R)·s'); products run in DECIMAL(38,0) on
    Spark and HUGEINT in the oracle (the q_zipf_slope precedent —
    truncating div verified to agree), and N·T enters SQUARED so no
    sign split is needed. z²_milli is one truncating integer division.

    Scale: one hash aggregate to the 5-row priority table, 1-row
    stitches after. The scan is the only data-sized stage."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("o_orderstatus") == "F").cast("int")).alias("cases"),
        )
        .select(
            F.substring("grp", 1, 1).cast("long").alias("w"),
            "grp",
            "n",
            "cases",
        )
    )
    tot = g.agg(
        F.sum("n").cast("decimal(38,0)").alias("nn"),
        F.sum("cases").cast("decimal(38,0)").alias("rr"),
        F.sum(F.col("w") * F.col("cases")).cast("decimal(38,0)").alias("swr"),
        F.sum(F.col("w") * F.col("n")).cast("decimal(38,0)").alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n"))
        .cast("decimal(38,0)")
        .alias("sw2n"),
    )
    s = tot.select(
        "nn",
        "rr",
        (F.col("nn") * F.col("swr") - F.col("rr") * F.col("swn")).alias("nt"),
        (F.col("nn") * F.col("sw2n") - F.col("swn") * F.col("swn")).alias("sp"),
    )
    z2 = F.expr(
        "CAST((CAST(1000 AS DECIMAL(38,0)) * nt * nt * nn)"
        " div (rr * (nn - rr) * sp) AS BIGINT)"
    )
    return g.crossJoin(F.broadcast(s)).select(
        "grp",
        "w",
        "n",
        "cases",
        z2.alias("z2_milli"),
        (z2 > F.lit(_CA_CRIT_MILLI)).alias("trend_significant"),
    )


# ---------------------------------------------------------------------
# q_mood_median_test (round 8)
# ---------------------------------------------------------------------


@query(
    "q_mood_median_test",
    oracle="""
    WITH base AS (
      SELECT source AS grp, n_chars AS x FROM documents
    ),
    hist AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS tcnt FROM base GROUP BY x
    ),
    cum AS (
      SELECT x, CAST(SUM(tcnt) OVER (ORDER BY x) AS BIGINT) AS c FROM hist
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    med AS (
      SELECT MIN(x) AS median FROM cum CROSS JOIN n WHERE 2 * c >= n.n
    ),
    g AS (
      SELECT grp,
             CAST(COUNT(*) AS BIGINT) AS n_grp,
             CAST(count_if(x > (SELECT median FROM med)) AS BIGINT)
               AS n_above
      FROM base GROUP BY grp
    ),
    marg AS (
      SELECT CAST(SUM(n_above) AS BIGINT) AS a,
             CAST(SUM(n_grp) AS BIGINT) AS nn,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM g
    ),
    cells AS (
      SELECT g.grp, g.n_grp, g.n_above,
             CAST(ROUND(1000000 * (
               CASE WHEN m.a > 0 THEN
                 (CAST(g.n_above AS DOUBLE)
                  - CAST(g.n_grp AS DOUBLE) * CAST(m.a AS DOUBLE)
                    / CAST(m.nn AS DOUBLE))
                 * (CAST(g.n_above AS DOUBLE)
                  - CAST(g.n_grp AS DOUBLE) * CAST(m.a AS DOUBLE)
                    / CAST(m.nn AS DOUBLE))
                 / (CAST(g.n_grp AS DOUBLE) * CAST(m.a AS DOUBLE)
                    / CAST(m.nn AS DOUBLE))
               ELSE 0 END
               +
               CASE WHEN m.a < m.nn THEN
                 (CAST(g.n_grp - g.n_above AS DOUBLE)
                  - CAST(g.n_grp AS DOUBLE) * CAST(m.nn - m.a AS DOUBLE)
                    / CAST(m.nn AS DOUBLE))
                 * (CAST(g.n_grp - g.n_above AS DOUBLE)
                  - CAST(g.n_grp AS DOUBLE) * CAST(m.nn - m.a AS DOUBLE)
                    / CAST(m.nn AS DOUBLE))
                 / (CAST(g.n_grp AS DOUBLE) * CAST(m.nn - m.a AS DOUBLE)
                    / CAST(m.nn AS DOUBLE))
               ELSE 0 END)) AS BIGINT) AS contrib_micro
      FROM g CROSS JOIN marg m
    )
    SELECT c.grp, c.n_grp, c.n_above,
           (SELECT median FROM med) AS grand_median,
           CAST((SELECT SUM(contrib_micro) FROM cells) AS BIGINT)
             AS chi2_micro,
           CAST((SELECT k - 1 FROM marg) AS BIGINT) AS dof
    FROM cells c
    """,
    tags=("stats", "testing", "median-test", "nonparametric"),
)
def q_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across document SOURCES on document length:
    classify every doc against the corpus GRAND median (above / not
    above), then Pearson chi-square on the resulting 2 x k table —
    the coarser, outlier-immune sibling of q_kruskal_wallis (it only
    looks at which side of the median each value falls).

    Grand median: smallest x with 2*cum(x) >= N over the length
    HISTOGRAM, with the cumulative running through the two-phase
    range-partition idiom (_twophase.py) — deterministic, exact, and
    no single-task window even on an unbounded value domain.

    Exactness: all counts exact integers; each cell's (o-e)^2/e is a
    shared-expression-tree double over exactly-representable operands,
    quantized to MICRO units per group row before the
    order-independent integer SUM (the q_chi_square treatment). Empty
    margins (median = max, so zero 'above') contribute 0 by the same
    CASE guard on both engines.

    Scale: one scan -> value histogram (two-phase cumulative) + one
    k-row group aggregate; median and marginals broadcast as 1-row
    frames. The scan is the only data-sized stage."""
    base = load_table(spark, sf_dir, "documents").select(
        F.col("source").alias("grp"), F.col("n_chars").alias("x")
    )
    hist = base.groupBy("x").agg(F.count(F.lit(1)).alias("tcnt"))
    cum = global_order_stats(
        hist, [F.asc("x")], running_sums={"c": F.col("tcnt")}, rn_col=None
    )
    n = base.agg(F.count(F.lit(1)).alias("n"))
    med = (
        cum.crossJoin(F.broadcast(n))
        .filter(2 * F.col("c") >= F.col("n"))
        .agg(F.min("x").alias("grand_median"))
    )
    g = (
        base.crossJoin(F.broadcast(med))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_grp"),
            F.count_if(F.col("x") > F.col("grand_median")).alias("n_above"),
        )
    )
    marg = g.agg(
        F.sum("n_above").alias("a"),
        F.sum("n_grp").alias("nn"),
        F.count(F.lit(1)).alias("k"),
    )
    e_above = "(CAST(n_grp AS DOUBLE) * CAST(a AS DOUBLE) / CAST(nn AS DOUBLE))"
    e_le = (
        "(CAST(n_grp AS DOUBLE) * CAST(nn - a AS DOUBLE) / CAST(nn AS DOUBLE))"
    )
    contrib = (
        "CAST(ROUND(1000000 * ("
        f"CASE WHEN a > 0 THEN (CAST(n_above AS DOUBLE) - {e_above})"
        f" * (CAST(n_above AS DOUBLE) - {e_above}) / {e_above} ELSE 0 END"
        " + "
        f"CASE WHEN a < nn THEN (CAST(n_grp - n_above AS DOUBLE) - {e_le})"
        f" * (CAST(n_grp - n_above AS DOUBLE) - {e_le}) / {e_le} ELSE 0 END"
        ")) AS BIGINT)"
    )
    cells = g.crossJoin(F.broadcast(marg)).select(
        "grp", "n_grp", "n_above", F.expr(contrib).alias("contrib_micro"),
        "k",
    )
    summary = cells.agg(
        F.sum("contrib_micro").alias("chi2_micro"), F.max("k").alias("k")
    )
    return (
        cells.select("grp", "n_grp", "n_above")
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(summary))
        .select(
            "grp",
            "n_grp",
            "n_above",
            "grand_median",
            "chi2_micro",
            (F.col("k") - 1).cast("long").alias("dof"),
        )
    )


# ---------------------------------------------------------------------
# q_jonckheere_terpstra (round 8)
# ---------------------------------------------------------------------


@query(
    "q_jonckheere_terpstra",
    oracle="""
    WITH base AS (
      SELECT source AS grp, n_chars AS x FROM documents
    ),
    hist AS (
      SELECT grp, x, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM base GROUP BY grp, x
    ),
    grid AS (
      SELECT g.grp, v.x, CAST(COALESCE(h.cnt, 0) AS BIGINT) AS cnt
      FROM (SELECT DISTINCT grp FROM base) g
      CROSS JOIN (SELECT DISTINCT x FROM base) v
      LEFT JOIN hist h ON h.grp = g.grp AND h.x = v.x
    ),
    cum AS (
      SELECT grp, x, cnt,
             CAST(COALESCE(SUM(cnt) OVER (PARTITION BY grp ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumlt
      FROM grid
    ),
    jt AS (
      SELECT CAST(SUM(CAST(j.cnt AS DECIMAL(38,0))
                      * (2 * i.cumlt + i.cnt)) AS DECIMAL(38,0)) AS jt2
      FROM cum i JOIN cum j ON j.x = i.x AND i.grp < j.grp
    ),
    sizes AS (
      SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n_grp
      FROM hist GROUP BY grp
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_grp) AS BIGINT) AS n,
             CAST(SUM(CAST(n_grp AS DECIMAL(38,0)) * n_grp)
               AS DECIMAL(38,0)) AS sn2,
             CAST(SUM(CAST(n_grp AS DECIMAL(38,0)) * n_grp
                      * (2 * n_grp + 3)) AS DECIMAL(38,0)) AS sn23
      FROM sizes
    )
    SELECT a.k, a.n,
           CAST(j.jt2 AS BIGINT) AS jt2,
           CAST((CAST(a.n AS DECIMAL(38,0)) * a.n - a.sn2) / 2 AS BIGINT)
             AS e2,
           CAST(ROUND(1000.0 * (CAST(j.jt2 AS DOUBLE)
                  - CAST((CAST(a.n AS DECIMAL(38,0)) * a.n - a.sn2) / 2
                      AS DOUBLE))
                / sqrt((CAST(CAST(a.n AS DECIMAL(38,0)) * a.n * (2 * a.n + 3)
                          AS DOUBLE)
                        - CAST(a.sn23 AS DOUBLE)) / 18.0)) AS BIGINT)
             AS z_milli,
           CAST(ROUND(1000.0 * (CAST(j.jt2 AS DOUBLE)
                  - CAST((CAST(a.n AS DECIMAL(38,0)) * a.n - a.sn2) / 2
                      AS DOUBLE))
                / sqrt((CAST(CAST(a.n AS DECIMAL(38,0)) * a.n * (2 * a.n + 3)
                          AS DOUBLE)
                        - CAST(a.sn23 AS DOUBLE)) / 18.0)) AS BIGINT) > 1645
             AS increasing_trend
    FROM jt j CROSS JOIN agg a
    """,
    tags=("stats", "testing", "trend", "nonparametric", "ordered-groups"),
)
def q_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test: do document
    lengths INCREASE along the (lexicographic) source ordering? The
    directional sibling of q_kruskal_wallis — when the grouping has a
    natural order (curation tiers, snapshot epochs), JT pools the
    pairwise Mann-Whitney statistics U_ij in that order and buys real
    power over the omnibus H. Lexicographic source order stands in for
    a tier ordering here; the operator is order-generic.

    Exactness: the doubled statistic JT2 = sum over group pairs i<j of
    [2*#{x_i < x_j} + #{ties}] counts pairs from per-group HISTOGRAMS
    over the merged value grid (cnt_j(v) * (2*cumlt_i(v) + cnt_i(v)) —
    exact integers, DECIMAL(38,0) accumulation); E2 = (N^2 - sum n^2)/2
    is exact; the tie-free null variance [N^2(2N+3) - sum n^2(2n+3)]/72
    enters only the milli-quantized z (shared expression tree over
    decimal-cast operands — the q_kruskal_wallis treatment, same
    documented >2^53 cast caveat).

    Scale: one scan -> (grp, value) histogram; the grid is |values| x
    |groups| (value-domain bounded, broadcast group dim); cumulatives
    are GROUP-KEYED windows (partition-parallel); the pair join is
    value-equi with a group inequality — never data-sized squared."""
    base = load_table(spark, sf_dir, "documents").select(
        F.col("source").alias("grp"), F.col("n_chars").alias("x")
    )
    hist = base.groupBy("grp", "x").agg(F.count(F.lit(1)).alias("cnt"))
    grps = base.select("grp").distinct()
    vals = base.select("x").distinct()
    grid = (
        vals.crossJoin(F.broadcast(grps))
        .join(hist, ["grp", "x"], "left")
        .select("grp", "x", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grid.select(
        "grp",
        "x",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_cum), F.lit(0)).alias("cumlt"),
    )
    i = cum.select(
        F.col("grp").alias("grp_i"), "x",
        F.col("cnt").alias("cnt_i"), F.col("cumlt").alias("cumlt_i"),
    )
    j = cum.select(
        F.col("grp").alias("grp_j"), "x", F.col("cnt").alias("cnt_j")
    )
    jt = (
        i.join(j, "x")
        .filter(F.col("grp_i") < F.col("grp_j"))
        .agg(
            F.sum(
                F.col("cnt_j").cast("decimal(38,0)")
                * (2 * F.col("cumlt_i") + F.col("cnt_i"))
            ).alias("jt2")
        )
    )
    sizes = hist.groupBy("grp").agg(F.sum("cnt").alias("n_grp"))
    agg = sizes.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_grp").alias("n"),
        F.sum(F.col("n_grp").cast("decimal(38,0)") * F.col("n_grp")).alias(
            "sn2"
        ),
        F.sum(
            F.col("n_grp").cast("decimal(38,0)")
            * F.col("n_grp")
            * (2 * F.col("n_grp") + 3)
        ).alias("sn23"),
    )
    e2 = "(CAST(n AS DECIMAL(38,0)) * n - sn2) / 2"
    var4 = (
        "((CAST(CAST(n AS DECIMAL(38,0)) * n * (2 * n + 3) AS DOUBLE)"
        " - CAST(sn23 AS DOUBLE)) / 18.0)"
    )
    z = (
        f"CAST(ROUND(1000.0 * (CAST(jt2 AS DOUBLE) - CAST({e2} AS DOUBLE))"
        f" / sqrt({var4})) AS BIGINT)"
    )
    return jt.crossJoin(F.broadcast(agg)).select(
        "k",
        "n",
        F.col("jt2").cast("long").alias("jt2"),
        F.expr(f"CAST({e2} AS BIGINT)").alias("e2"),
        F.expr(z).alias("z_milli"),
        (F.expr(z) > 1645).alias("increasing_trend"),
    )


# ---------------------------------------------------------------------
# q_tukey_hsd (round 8)
# ---------------------------------------------------------------------

# studentized-range critical value q_{0.05}(k=5, df=inf) = 3.858,
# squared in micro units. The order-priority design has k = 5 groups
# and thousands of rows per group, so the infinite-df row applies to
# 3 digits.
_TUKEY_Q2_MICRO = 14_884_164


@query(
    "q_tukey_hsd",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    g AS MATERIALIZED (
      SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(cents) AS HUGEINT) AS sy,
             SUM(CAST(cents AS HUGEINT) * cents) AS syy
      FROM base GROUP BY grp
    ),
    tot AS (
      SELECT CAST(SUM(n) AS HUGEINT) AS nn,
             CAST(COUNT(*) AS HUGEINT) AS k,
             CAST(SUM((n * syy - sy * sy) // n) AS HUGEINT) AS ssw
      FROM g
    ),
    pairs AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b,
             CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
             (a.sy * b.n - b.sy * a.n) // (a.n * b.n) AS diff_cents,
             (CAST({_TUKEY_Q2_MICRO} AS HUGEINT) * t.ssw * (a.n + b.n))
               // (2000000 * a.n * b.n * (t.nn - t.k)) AS hsd_sq
      FROM g a JOIN g b ON a.grp < b.grp CROSS JOIN tot t
    )
    SELECT grp_a, grp_b, n_a, n_b,
           CAST(diff_cents AS BIGINT) AS diff_cents,
           CAST(hsd_sq AS BIGINT) AS hsd_sq_cents2,
           diff_cents * diff_cents > hsd_sq AS significant
    FROM pairs
    """,
    tags=("stats", "tukey-hsd", "post-hoc", "multiple-comparison"),
)
def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer HSD post-hoc test on the q_anova_oneway design
    (order value by order priority): every pair of group means tested
    against the honestly-significant-difference threshold
    q * sqrt(MSW/2 * (1/n_a + 1/n_b)) at the k = 5 studentized-range
    critical value — the answer to the question the omnibus ANOVA F
    leaves open ("WHICH priorities differ?") with the familywise error
    held at 5% across all 10 comparisons (pairs with q_bh_fdr, which
    controls FDR over independent hypotheses instead).

    Exactness: group moments are exact DECIMAL(38,0)/HUGEINT integers;
    the within-group SS truncates once per group, the mean difference
    once per pair (to whole cents), the squared threshold once per
    pair — the significance compare is then pure integer arithmetic
    with a fixed q^2 constant, so every column hashes.

    Scale: one group-moment hash aggregate (map-side combinable), a
    k x k pair grid on the 5-row broadcast-sized group table, 1-row
    totals stitch — the post-hoc costs nothing beyond the ANOVA
    scan."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    g = base.groupBy("grp").agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(SUM(cents) AS DECIMAL(38,0))").alias("sy"),
        F.expr("SUM(CAST(cents AS DECIMAL(38,0)) * cents)").alias("syy"),
    )
    tot = g.agg(
        F.expr("CAST(SUM(n) AS DECIMAL(38,0))").alias("nn"),
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("k"),
        # each group's div result is ~2.4e18 at sf0.1 — summing them
        # as LONG overflows 2^63, so re-widen per group BEFORE the sum
        F.expr(
            "CAST(SUM(CAST((n * syy - sy * sy) div n AS DECIMAL(38,0)))"
            " AS DECIMAL(38,0))"
        ).alias("ssw"),
    )
    a = g.select(
        F.col("grp").alias("grp_a"),
        F.col("n").alias("na"),
        F.col("sy").alias("sya"),
    )
    b = g.select(
        F.col("grp").alias("grp_b"),
        F.col("n").alias("nb"),
        F.col("sy").alias("syb"),
    )
    pairs = (
        a.join(F.broadcast(b), F.col("grp_a") < F.col("grp_b"))
        .crossJoin(F.broadcast(tot))
        .select(
            "grp_a",
            "grp_b",
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.expr("(sya * nb - syb * na) div (na * nb)").alias(
                "diff_cents"
            ),
            F.expr(
                f"(CAST({_TUKEY_Q2_MICRO} AS DECIMAL(38,0)) * ssw"
                " * (na + nb)) div (2000000 * na * nb * (nn - k))"
            ).alias("hsd_sq"),
        )
    )
    return pairs.select(
        "grp_a",
        "grp_b",
        "n_a",
        "n_b",
        F.col("diff_cents").cast("long").alias("diff_cents"),
        F.col("hsd_sq").cast("long").alias("hsd_sq_cents2"),
        (F.col("diff_cents") * F.col("diff_cents") > F.col("hsd_sq")).alias(
            "significant"
        ),
    )


# ---------------------------------------------------------------------
# q_wilcoxon_signed_rank (round 8)
# ---------------------------------------------------------------------

# chi-square(1) 95% critical value in micro units (z^2 threshold)
_WSR_CHI2_MICRO = 3_841_459


@query(
    "q_wilcoxon_signed_rank",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(ROUND(value * 100) AS BIGINT) END)
               AS BIGINT) AS p,
             CAST(SUM(CASE WHEN event_type = 'view'
                      THEN CAST(ROUND(value * 100) AS BIGINT) END)
               AS BIGINT) AS v
      FROM events WHERE event_type IN ('purchase', 'view')
      GROUP BY CAST(ts AS DATE)
    ),
    diffs AS (
      SELECT p - v AS d, abs(p - v) AS ad
      FROM daily WHERE p IS NOT NULL AND v IS NOT NULL AND p <> v
    ),
    hist AS (
      SELECT ad, CAST(COUNT(*) AS BIGINT) AS t,
             CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM diffs GROUP BY ad
    ),
    ranked AS (
      SELECT ad, t, pos,
             CAST(COALESCE(SUM(t) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM hist
    ),
    stat AS (
      SELECT CAST(SUM(t) AS HUGEINT) AS n,
             -- doubled average rank for the tie group: 2*cum_before+t+1
             CAST(SUM(pos * (2 * cum_before + t + 1)) AS HUGEINT) AS w2,
             CAST(SUM(t * t * t - t) AS HUGEINT) AS tie3
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(w2 AS BIGINT) AS w_plus_doubled,
           CAST((6000000 * (2 * w2 - n * (n + 1))
                         * (2 * w2 - n * (n + 1)))
                // (4 * (n * (n + 1) * (2 * n + 1) - tie3 // 2))
             AS BIGINT) AS z2_micro,
           (6000000 * (2 * w2 - n * (n + 1)) * (2 * w2 - n * (n + 1)))
             // (4 * (n * (n + 1) * (2 * n + 1) - tie3 // 2))
             > {_WSR_CHI2_MICRO} AS significant
    FROM stat
    """,
    tags=("stats", "hypothesis-test", "wilcoxon", "paired",
          "signed-rank"),
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED daily revenue — purchase vs
    view cents matched by calendar day: rank the absolute differences
    (average ranks for ties), sum the ranks of the positive
    differences, and compare the normal approximation's z^2 (with the
    standard tie correction) to the chi-square(1) critical value. The
    paired complement of the independent-samples tests (Welch
    parametric, Mann-Whitney/Kruskal-Wallis rank-based): day-level
    pairing removes the shared daily traffic component, which is
    exactly when the signed-rank test beats both.

    Exactness: pairs, differences, and the |d| histogram are exact
    integers; the tie group's AVERAGE rank is kept integral by
    doubling (2 * avg rank = 2 * cum_before + t + 1); W+, the tie term
    sum(t^3 - t) (always divisible by 2), and z2_micro's single
    truncating division are wide-integer arithmetic with a fixed
    critical constant — every column hashes.

    Scale: one daily hash aggregate; the rank cumulative runs over the
    DISTINCT |d| histogram (value-domain bounded, like
    q_cliffs_delta's); the statistic is a 1-row reduction."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr("CAST(ROUND(value * 100) AS BIGINT)"),
                )
            ).alias("p"),
            F.sum(
                F.when(
                    F.col("event_type") == "view",
                    F.expr("CAST(ROUND(value * 100) AS BIGINT)"),
                )
            ).alias("v"),
        )
    )
    diffs = daily.filter(
        F.col("p").isNotNull() & F.col("v").isNotNull()
        & (F.col("p") != F.col("v"))
    ).select(
        (F.col("p") - F.col("v")).alias("d"),
        F.abs(F.col("p") - F.col("v")).alias("ad"),
    )
    hist = diffs.groupBy("ad").agg(
        F.count(F.lit(1)).alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("pos"),
    )
    w_cum = (
        Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = hist.select(
        "ad",
        "t",
        "pos",
        F.coalesce(F.sum("t").over(w_cum), F.lit(0)).alias("cum_before"),
    )
    stat = ranked.agg(
        F.expr("CAST(SUM(t) AS DECIMAL(38,0))").alias("n"),
        F.expr(
            "CAST(SUM(pos * (2 * cum_before + t + 1)) AS DECIMAL(38,0))"
        ).alias("w2"),
        F.expr("CAST(SUM(t * t * t - t) AS DECIMAL(38,0))").alias("tie3"),
    )
    z2 = (
        "(6000000 * (2 * w2 - n * (n + 1)) * (2 * w2 - n * (n + 1)))"
        " div (4 * (n * (n + 1) * (2 * n + 1) - tie3 div 2))"
    )
    return stat.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.col("w2").cast("long").alias("w_plus_doubled"),
        F.expr(f"CAST({z2} AS BIGINT)").alias("z2_micro"),
        F.expr(f"{z2} > {_WSR_CHI2_MICRO}").alias("significant"),
    )

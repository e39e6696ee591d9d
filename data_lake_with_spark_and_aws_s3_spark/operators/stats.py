"""Statistical aggregate family — regr_* / corr / covar / variance
(SURVEY.md §2.4 stats row, widened): per-group simple linear
regression of line-item price on quantity, validated two ways at once.

Oracle-exactness design: floating-point regression outputs can NEVER
be hash-compared across engines (accumulation order differs), so the
hashed surface is (a) the EXACT integer moment sums — n, Σx, Σy, Σxx,
Σxy as BIGINTs over cent-scaled prices, identical math in both
dialects — and (b) self-check BOOLEANS where each engine compares its
OWN builtin (regr_slope/regr_intercept/regr_r2/corr/var_pop/covar_pop)
against the closed-form value derived from those exact moments, to
1e-9 relative tolerance. Both engines independently prove their
builtin agrees with the same exactly-checked moments; the hash then
agrees because the booleans are all true. Σyy alone would overflow
BIGINT at sf0.1 (price_cents² ~ 1e14 × 2e5 rows), so it accumulates in
DECIMAL(38,0) internally and only feeds the booleans, never the hash.

Scale shape: one partial->final hash aggregate per group computes all
moments AND all builtins in a single pass over the scan (one
exchange); the closed-form comparisons are per-group scalar math on
the already-aggregated rows. Moment sums are the textbook
map-side-combinable form — this is exactly how the builtins themselves
distribute, made visible and exactly checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.loader import load_table
from ._pin import pin
from ._twophase import global_order_stats

_TOL = 1e-9

# Shared closed-form SQL (valid in both dialects) over the moment
# columns n/sx/sy/sxx/sxy/syy — all referenced as doubles named *_d.
_SLOPE = "((n_d * sxy_d - sx_d * sy_d) / (n_d * sxx_d - sx_d * sx_d))"
_INTERCEPT = f"((sy_d - {_SLOPE} * sx_d) / n_d)"
_CORR = (
    "((n_d * sxy_d - sx_d * sy_d) / "
    "sqrt((n_d * sxx_d - sx_d * sx_d) * (n_d * syy_d - sy_d * sy_d)))"
)
_VARX = "((n_d * sxx_d - sx_d * sx_d) / (n_d * n_d))"
_COVAR = "((n_d * sxy_d - sx_d * sy_d) / (n_d * n_d))"


def _ok(builtin: str, closed: str) -> str:
    """Relative-tolerance agreement predicate (dialect-shared)."""
    return f"(abs(({builtin}) - ({closed})) <= {_TOL} * (1.0 + abs({closed})))"


_MOMENTS_DUCK = """
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sum_qty,
             CAST(SUM(y) AS BIGINT) AS sum_price_cents,
             CAST(SUM(x * x) AS BIGINT) AS sum_xx,
             CAST(SUM(x * y) AS BIGINT) AS sum_xy,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy_dec,
             regr_slope(yd, xd) AS b_slope,
             regr_intercept(yd, xd) AS b_intercept,
             regr_r2(yd, xd) AS b_r2,
             corr(yd, xd) AS b_corr,
             var_pop(xd) AS b_varx,
             covar_pop(yd, xd) AS b_covar
      FROM (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y,
               CAST(l_quantity AS DOUBLE) AS xd,
               CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS DOUBLE) AS yd
        FROM lineitem
      )
      GROUP BY l_returnflag
"""

_CHECKS = f"""
    SELECT l_returnflag, n, sum_qty, sum_price_cents, sum_xx, sum_xy,
           {_ok("b_slope", _SLOPE)} AS slope_ok,
           {_ok("b_intercept", _INTERCEPT)} AS intercept_ok,
           {_ok("b_r2", f"({_CORR}) * ({_CORR})")} AS r2_ok,
           {_ok("b_corr", _CORR)} AS corr_ok,
           {_ok("b_varx", _VARX)} AS varx_ok,
           {_ok("b_covar", _COVAR)} AS covar_ok
    FROM (
      SELECT *,
             CAST(n AS DOUBLE) AS n_d,
             CAST(sum_qty AS DOUBLE) AS sx_d,
             CAST(sum_price_cents AS DOUBLE) AS sy_d,
             CAST(sum_xx AS DOUBLE) AS sxx_d,
             CAST(sum_xy AS DOUBLE) AS sxy_d,
             CAST(syy_dec AS DOUBLE) AS syy_d
      FROM m
    )
"""


@query(
    "q_regr_diagnostics",
    oracle=f"WITH m AS ({_MOMENTS_DUCK})\n{_CHECKS}",
    tags=("agg", "stats", "regression", "exact-moments"),
)
def q_regr_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS fit of cent-scaled price on quantity: exact
    BIGINT moment sums (hashed) + six booleans proving Spark's
    regr_slope/regr_intercept/regr_r2/corr/var_pop/covar_pop each
    match the closed-form value from those moments (the oracle proves
    the same for DuckDB's builtins). See module docstring for why
    floats themselves stay out of the hash."""
    li = load_table(spark, sf_dir, "lineitem")
    src = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("y"),
    ).withColumns(
        {"xd": F.col("x").cast("double"), "yd": F.col("y").cast("double")}
    )
    moments = src.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sum_qty"),
        F.sum("y").alias("sum_price_cents"),
        F.sum(F.col("x") * F.col("x")).alias("sum_xx"),
        F.sum(F.col("x") * F.col("y")).alias("sum_xy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy_dec"),
        F.regr_slope("yd", "xd").alias("b_slope"),
        F.regr_intercept("yd", "xd").alias("b_intercept"),
        F.regr_r2("yd", "xd").alias("b_r2"),
        F.corr("yd", "xd").alias("b_corr"),
        F.var_pop("xd").alias("b_varx"),
        F.covar_pop("yd", "xd").alias("b_covar"),
    )
    md = moments.withColumns(
        {
            "n_d": F.col("n").cast("double"),
            "sx_d": F.col("sum_qty").cast("double"),
            "sy_d": F.col("sum_price_cents").cast("double"),
            "sxx_d": F.col("sum_xx").cast("double"),
            "sxy_d": F.col("sum_xy").cast("double"),
            "syy_d": F.col("syy_dec").cast("double"),
        }
    )
    return md.selectExpr(
        "l_returnflag",
        "n",
        "sum_qty",
        "sum_price_cents",
        "sum_xx",
        "sum_xy",
        f"{_ok('b_slope', _SLOPE)} AS slope_ok",
        f"{_ok('b_intercept', _INTERCEPT)} AS intercept_ok",
        f"{_ok('b_r2', f'({_CORR}) * ({_CORR})')} AS r2_ok",
        f"{_ok('b_corr', _CORR)} AS corr_ok",
        f"{_ok('b_varx', _VARX)} AS varx_ok",
        f"{_ok('b_covar', _COVAR)} AS covar_ok",
    )


# Unit choices keep every hashed moment an exact int64 whose double
# cast is also exact (< 2^53) at every shipped SF: quantities are raw
# (<= 50), prices in whole DOLLARS (~1e5), discount/tax in basis
# points (<= 1000). Worst case sxx = (1.1e5)^2 * 6e5 rows ~ 7.3e15,
# under both 2^63 and 2^53. Cents would overflow 2^53 — documented
# trade: dollar-rounding is part of the operator's contract.
_CORR_COLS = (
    ("qty", "CAST(l_quantity AS BIGINT)"),
    ("price_usd", "CAST(ROUND(l_extendedprice) AS BIGINT)"),
    ("disc_bp", "CAST(ROUND(l_discount * 10000) AS BIGINT)"),
    ("tax_bp", "CAST(ROUND(l_tax * 10000) AS BIGINT)"),
)
_CORR_PAIRS = [
    (a, b) for i, (a, _) in enumerate(_CORR_COLS) for b, _ in [c for c in _CORR_COLS[i + 1 :]]
]


def _corr_pair_sql(xa: str, xb: str, dialect: str) -> str:
    """One SELECT computing exact pair moments + the builtin-vs-closed-
    form corr agreement boolean (dialect-shared expression tree)."""
    cols = dict(_CORR_COLS)
    x, y = cols[xa], cols[xb]
    return f"""
      SELECT '{xa}~{xb}' AS pair,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM({x}) AS BIGINT) AS sx,
             CAST(SUM({y}) AS BIGINT) AS sy,
             CAST(SUM(({x}) * ({x})) AS BIGINT) AS sxx,
             CAST(SUM(({y}) * ({y})) AS BIGINT) AS syy,
             CAST(SUM(({x}) * ({y})) AS BIGINT) AS sxy,
             corr(CAST({y} AS DOUBLE), CAST({x} AS DOUBLE)) AS corr_b
      FROM lineitem
    """


@query(
    "q_corr_matrix",
    oracle="""
    WITH pairs AS (
    """
    + "\n      UNION ALL\n".join(_corr_pair_sql(a, b, "duck") for a, b in _CORR_PAIRS)
    + f"""
    )
    SELECT pair, n, sx, sy, sxx, syy, sxy,
           {_ok(
               "corr_b",
               "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
               " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
               " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))",
           )} AS corr_ok
    FROM pairs
    """,
    tags=("stats", "correlation", "one-pass"),
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise correlation structure of 4 lineitem measures in
    ONE scan: the 6 pair rows carry exact integer moments (n, Σx, Σy,
    Σxx, Σyy, Σxy) — the complete sufficient statistics from which any
    engine reconstructs every corr/covar/slope bit-exactly.

    The map-side stack (explode of 6 pair structs) multiplies rows 6x
    BEFORE one hash aggregate — at 100 TB you'd instead compute the 14
    distinct moments in a single agg row and expand driver-side; the
    stacked form is used here because it keeps the hashed surface
    per-pair and engine-shared. Exactness: unit choices (dollars /
    basis points) bound every moment under 2^53 so even the double
    casts in the closed-form check are exact; the corr itself is
    checked by a shared-tree tolerance boolean, never hashed raw
    (stats.py header explains why raw float aggregates can't hash)."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = dict(_CORR_COLS)
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(f"{a}~{b}").alias("pair"),
                F.expr(cols[a]).alias("x"),
                F.expr(cols[b]).alias("y"),
            )
            for a, b in _CORR_PAIRS
        ]
    )
    stacked = li.select(F.explode(pair_structs).alias("p")).select("p.*")
    m = stacked.groupBy("pair").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.expr("corr(CAST(y AS DOUBLE), CAST(x AS DOUBLE))").alias("corr_b"),
    )
    closed = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    return m.select(
        "pair", "n", "sx", "sy", "sxx", "syy", "sxy",
        F.expr(_ok("corr_b", closed)).alias("corr_ok"),
    )


@query(
    "q_chi_square",
    oracle="""
    WITH o AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
      FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS row_tot FROM o GROUP BY lang),
    ct AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS col_tot FROM o GROUP BY source),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o),
    cells AS (
      SELECT o.lang, o.source, o.obs,
             CAST(ROUND(1000000 * (CAST(o.obs AS DOUBLE)
                    - (CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE))
                      / CAST(n.n AS DOUBLE))
                  * (CAST(o.obs AS DOUBLE)
                    - (CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE))
                      / CAST(n.n AS DOUBLE))
                  / ((CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE))
                      / CAST(n.n AS DOUBLE))) AS BIGINT) AS contrib_micro
      FROM o JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n
    )
    SELECT
      CAST((SELECT n FROM n) AS BIGINT) AS n,
      CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS n_langs,
      CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS n_sources,
      CAST(((SELECT COUNT(*) FROM rt) - 1) * ((SELECT COUNT(*) FROM ct) - 1)
        AS BIGINT) AS dof,
      CAST(SUM(contrib_micro) AS BIGINT) AS chi2_micro,
      CAST(COUNT(*) AS BIGINT) AS n_observed_cells
    FROM cells
    """,
    tags=("stats", "chi-square", "independence"),
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence for the lang x source
    contingency table — "is corpus composition balanced or do sources
    specialize by language?", the screening test before stratified
    rebalancing.

    Exactness: observed counts and marginals are exact integers;
    each cell's (o-e)^2/e is a shared-expression-tree double (e is a
    single division of exactly-representable products) quantized to
    integer MICRO units per cell before the order-independent integer
    SUM — same treatment as q_entropy_profile's micro-nats.

    Scale: one scan -> (lang, source) hash aggregate; marginals
    re-aggregate the tiny cell table; the joins broadcast. The
    statistic's cost is the contingency build, which is the cheapest
    possible shuffle (|cells| == |langs x sources|)."""
    d = load_table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    # tiny; feeds marginals AND the cell join — pinned (invocation-scoped
    # persist, operators/_pin.py): a bare .cache() would hand later
    # invocations this run's blocks via the CacheManager's
    # canonical-plan match, which the bench methodology forbids
    o = pin(o)
    rt = o.groupBy("lang").agg(F.sum("obs").alias("row_tot"))
    ct = o.groupBy("source").agg(F.sum("obs").alias("col_tot"))
    n = o.agg(F.sum("obs").alias("n"))
    e_expr = (
        "((CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)) / CAST(n AS DOUBLE))"
    )
    contrib = (
        f"CAST(ROUND(1000000 * (CAST(obs AS DOUBLE) - {e_expr})"
        f" * (CAST(obs AS DOUBLE) - {e_expr}) / {e_expr}) AS BIGINT)"
    )
    cells = (
        o.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .select("lang", "source", "obs", F.expr(contrib).alias("contrib_micro"))
    )
    rt_n = rt.agg(F.count(F.lit(1)).alias("n_langs"))
    ct_n = ct.agg(F.count(F.lit(1)).alias("n_sources"))
    summary = cells.agg(
        F.sum("contrib_micro").alias("chi2_micro"),
        F.count(F.lit(1)).alias("n_observed_cells"),
    )
    return (
        n.crossJoin(F.broadcast(rt_n))
        .crossJoin(F.broadcast(ct_n))
        .crossJoin(F.broadcast(summary))
        .select(
            "n",
            "n_langs",
            "n_sources",
            ((F.col("n_langs") - 1) * (F.col("n_sources") - 1)).alias("dof"),
            "chi2_micro",
            "n_observed_cells",
        )
    )


@query(
    "q_ks_test",
    oracle="""
    WITH pts AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
             CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END AS in_a,
             CASE WHEN year(o_orderdate) = 1998 THEN 1 ELSE 0 END AS in_b
      FROM orders WHERE year(o_orderdate) IN (1997, 1998)
    ),
    tot AS (
      SELECT CAST(SUM(in_a) AS BIGINT) AS n_a, CAST(SUM(in_b) AS BIGINT) AS n_b
      FROM pts
    ),
    grid AS (
      SELECT x, CAST(SUM(SUM(in_a)) OVER (ORDER BY x) AS BIGINT) AS c_a,
                CAST(SUM(SUM(in_b)) OVER (ORDER BY x) AS BIGINT) AS c_b
      FROM pts GROUP BY x
    ),
    dev AS (
      SELECT grid.x, ABS(grid.c_a * tot.n_b - grid.c_b * tot.n_a) AS cross_dev,
             tot.n_a, tot.n_b
      FROM grid CROSS JOIN tot
    )
    SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST(MAX(cross_dev) AS BIGINT) AS max_cross_dev,
           CAST(MAX(cross_dev) AS DOUBLE)
             / (CAST(MAX(n_a) AS DOUBLE) * CAST(MAX(n_b) AS DOUBLE)) AS ks_d
    FROM dev
    """,
    tags=("stats", "ks-test", "drift"),
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the 1997 and
    1998 order-price distributions — the nonparametric drift test
    beside q_psi_drift (PSI needs bucketing; KS is bucket-free).

    Exactness end-to-end: D = max_x |F_a(x) - F_b(x)| is computed as
    the exact INTEGER max of |c_a * n_b - c_b * n_a| over the merged
    support grid (cross-multiplication avoids per-point divisions
    entirely); the reported ks_d is ONE division of that exact max.
    c * n <= 1.5e5 * 1.5e5 at sf0.1 — far inside int64.

    Scale: one scan -> per-value aggregate -> cumulative counts via
    the DISTRIBUTED two-phase form (_twophase.global_order_stats:
    range-partition on x, per-partition local cumulative sums in
    parallel, then per-partition totals -> broadcast offsets — never
    the keyless single-task window Spark would otherwise plan)
    -> scalar max. No bucketing parameter and no quadratic anything.
    The sampled range boundaries are run-dependent but the OUTPUT is
    not: x is unique after the group-by, so offsets + local cumsums
    reproduce the global cumulative counts exactly."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1997, 1998)
    )
    pts = o.select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("x"),
        F.when(F.year("o_orderdate") == 1997, 1).otherwise(0).alias("in_a"),
        F.when(F.year("o_orderdate") == 1998, 1).otherwise(0).alias("in_b"),
    )
    per_x = pts.groupBy("x").agg(
        F.sum("in_a").alias("da"), F.sum("in_b").alias("db")
    )
    grid = global_order_stats(
        per_x,
        [F.asc("x")],
        running_sums={"c_a": F.col("da"), "c_b": F.col("db")},
        rn_col=None,
    )
    tot = pts.agg(F.sum("in_a").alias("n_a"), F.sum("in_b").alias("n_b"))
    dev = grid.crossJoin(F.broadcast(tot)).select(
        F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a")).alias(
            "cross_dev"
        ),
        "n_a",
        "n_b",
    )
    return dev.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("cross_dev").alias("max_cross_dev"),
        (
            F.max("cross_dev").cast("double")
            / (F.max("n_a").cast("double") * F.max("n_b").cast("double"))
        ).alias("ks_d"),
    )


@query(
    "q_gini_revenue",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM cust
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(SUM(i * cents) AS BIGINT) AS weighted_cents,
           CAST(2 * SUM(i * cents) - (MAX(n) + 1) * SUM(cents) AS DOUBLE)
             / (CAST(MAX(n) AS DOUBLE) * CAST(SUM(cents) AS DOUBLE)) AS gini
    FROM ranked
    """,
    tags=("stats", "gini", "concentration", "analytics"),
)
def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers —
    "what share of spend sits with the whales", the skew diagnosis that
    decides salting keys and cache tiers before it decides marketing.

    Gini = (2 * sum(i * x_i) - (n+1) * sum(x_i)) / (n * sum(x_i)) over
    ranks i of the ascending-sorted per-customer totals (tie order
    pinned by customer key so both engines rank identically). All
    sums are exact int64 (rank * cents <= 1.5e5 * ~1e8 at sf0.1, and
    the sum stays < 2^63); the single closing division is the only
    float. Ranks come from the DISTRIBUTED two-phase global row number
    (_twophase.global_order_stats — range partition, parallel local
    ranks, broadcast offsets), never the keyless single-task window;
    (cents, o_custkey) is unique so the ranks reproduce exactly."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("cents")
    )
    ranked = global_order_stats(
        cust, [F.asc("cents"), F.asc("o_custkey")], rn_col="i"
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.sum(F.col("i") * F.col("cents")).alias("weighted_cents"),
        (
            (2 * F.sum(F.col("i") * F.col("cents"))
             - (F.count(F.lit(1)) + 1) * F.sum("cents")).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.sum("cents").cast("double"))
        ).alias("gini"),
    )


# --- Cohen's kappa (label agreement) ---------------------------------

_KAPPA_ORACLE_TEMPLATE = """
    WITH pred AS (
      SELECT lang AS truth,
             CASE
               WHEN greatest({en}, {es}, {de}, {fr}) = 0 THEN 'unknown'
               WHEN {en} >= greatest({es}, {de}, {fr}) THEN 'en'
               WHEN {es} >= greatest({de}, {fr}) THEN 'es'
               WHEN {de} >= {fr} THEN 'de'
               ELSE 'fr'
             END AS predicted
      FROM documents
    ),
    cells AS (
      SELECT truth, predicted, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY truth, predicted
    ),
    marg AS (
      SELECT COALESCE(r.truth, c.predicted) AS label,
             COALESCE(r.rn, 0) AS rn, COALESCE(c.cn, 0) AS cn
      FROM (SELECT truth, SUM(n) AS rn FROM cells GROUP BY truth) r
      FULL JOIN (SELECT predicted, SUM(n) AS cn FROM cells GROUP BY predicted) c
        ON c.predicted = r.truth
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN truth = predicted THEN n ELSE 0 END) AS BIGINT)
               AS n_agree
      FROM cells
    ),
    chance AS (
      SELECT CAST(SUM(rn * cn) AS BIGINT) AS sum_rc FROM marg
    )
    SELECT tot.n_total, tot.n_agree, chance.sum_rc,
           CAST(tot.n_total * tot.n_agree - chance.sum_rc AS BIGINT) AS kappa_num,
           CAST(tot.n_total * tot.n_total - chance.sum_rc AS BIGINT) AS kappa_den,
           CAST(tot.n_total * tot.n_agree - chance.sum_rc AS DOUBLE)
             / (tot.n_total * tot.n_total - chance.sum_rc) AS kappa
    FROM tot, chance
"""


def _kappa_oracle() -> str:
    """The predicted-language CASE reuses q_language_id's marker
    counts verbatim (text._marker_count_sql), so the two oracles can
    never silently diverge on the classifier definition."""
    from .text import _marker_count_sql

    return _KAPPA_ORACLE_TEMPLATE.format(
        **{lang: _marker_count_sql(lang) for lang in ("en", "es", "de", "fr")}
    )


@query(
    "q_cohens_kappa",
    oracle=_kappa_oracle(),
    tags=("stats", "kappa", "agreement", "llm-pipeline"),
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the corpus's labeled language and the
    marker-word language-ID prediction (q_language_id's classifier) —
    the chance-corrected agreement score used to audit annotation /
    weak-label quality before training on it.

    Exact-rational form: kappa = (po - pe) / (1 - pe) multiplied
    through by N^2 gives (N*sum_diag - sum_k r_k*c_k) /
    (N^2 - sum_k r_k*c_k) — numerator and denominator are exact
    int64 under the driver hash; the reported kappa is their single
    division. Plan: the confusion matrix is one map-side-combined
    hash aggregate over |langs|^2 cells; marginals and the final
    scalar stitch operate on that tiny table."""
    from .text import _LANG_MARKERS, _marker_count_spark

    d = load_table(spark, sf_dir, "documents")
    s = {lang: _marker_count_spark(lang) for lang in _LANG_MARKERS}
    predicted = (
        F.when(F.greatest(s["en"], s["es"], s["de"], s["fr"]) == 0, "unknown")
        .when(s["en"] >= F.greatest(s["es"], s["de"], s["fr"]), "en")
        .when(s["es"] >= F.greatest(s["de"], s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )
    cells = (
        d.select(F.col("lang").alias("truth"), predicted.alias("predicted"))
        .groupBy("truth", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cells = cells.localCheckpoint()  # tiny; feeds marginals + totals
    rows = cells.groupBy("truth").agg(F.sum("n").alias("rn"))
    cols = cells.groupBy("predicted").agg(F.sum("n").alias("cn"))
    marg = rows.join(
        cols, rows.truth == cols.predicted, "full_outer"
    ).select(
        F.coalesce(F.col("rn"), F.lit(0)).alias("rn"),
        F.coalesce(F.col("cn"), F.lit(0)).alias("cn"),
    )
    tot = cells.agg(
        F.sum("n").alias("n_total"),
        F.sum(F.when(F.col("truth") == F.col("predicted"), F.col("n")).otherwise(0)).alias(
            "n_agree"
        ),
    )
    chance = marg.agg(F.sum(F.col("rn") * F.col("cn")).alias("sum_rc"))
    return (
        tot.crossJoin(F.broadcast(chance))
        .select(
            "n_total",
            "n_agree",
            "sum_rc",
            (F.col("n_total") * F.col("n_agree") - F.col("sum_rc")).alias("kappa_num"),
            (F.col("n_total") * F.col("n_total") - F.col("sum_rc")).alias("kappa_den"),
            (
                (F.col("n_total") * F.col("n_agree") - F.col("sum_rc")).cast("double")
                / (F.col("n_total") * F.col("n_total") - F.col("sum_rc"))
            ).alias("kappa"),
        )
    )


# --- Poisson bootstrap (distributed resampling) ----------------------

_BOOT_B = 32  # resample count
# Inverse-CDF thresholds for Poisson(lambda=1) on a 16-bit md5-uniform
# grid: count(i, b) = #{k : u >= T_k}, u ~ U[0, 65536). 16 bits keep
# the threshold rounding bias at ~8e-6 (statistically invisible) and
# the hash work tractable: each row needs only FOUR md5 digests —
# resample b reads the 4-hex-digit window (b % 8) of digest (b div 8)
# — instead of 32 full hashes (the 12-digit/32-hash first cut cost the
# DuckDB oracle 104 s at sf0.1; this layout runs in seconds). Exact
# integer literals, identical in both dialects.
_BOOT_SCALE = 16**4
_BOOT_CDF = (
    0.3678794411714423,  # P(X <= 0)
    0.7357588823428846,
    0.9197087233787257,
    0.9810118370906394,
    0.9963401531726563,
    0.9994058151824183,  # P(X <= 5); tail beyond truncated (6e-4 mass)
)
_BOOT_T = tuple(round(c * _BOOT_SCALE) for c in _BOOT_CDF)


def _boot_count_sql(u: str) -> str:
    """Poisson(1) variate from a uniform integer — valid in both
    dialects: the count is how many CDF thresholds the uniform
    clears."""
    terms = " + ".join(
        f"(CASE WHEN ({u}) >= {t} THEN 1 ELSE 0 END)" for t in _BOOT_T
    )
    return f"CAST(({terms}) AS BIGINT)"


def _boot_digest_sql(key: str, d: int) -> str:
    # STRING is the type-name spelling BOTH dialects accept (Spark has
    # no bare VARCHAR; DuckDB aliases STRING -> VARCHAR)
    return f"md5(CAST({key} AS STRING) || '#{d}')"


def _boot_u_sql(b: str) -> str:
    """16-bit uniform for resample `b` from the 4 per-row digests
    (columns d0..d3): window (b % 8) of digest (b div 8)."""
    from .llm_pipeline import _hex_val_sql

    digest = (
        f"(CASE WHEN ({b}) < 8 THEN d0 WHEN ({b}) < 16 THEN d1 "
        f"WHEN ({b}) < 24 THEN d2 ELSE d3 END)"
    )
    window = f"substr({digest}, (({b}) % 8) * 4 + 1, 4)"
    return _hex_val_sql(window, 4)


@query(
    "q_poisson_bootstrap",
    oracle=f"""
    WITH hashed AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             {_boot_digest_sql("o_orderkey", 0)} AS d0,
             {_boot_digest_sql("o_orderkey", 1)} AS d1,
             {_boot_digest_sql("o_orderkey", 2)} AS d2,
             {_boot_digest_sql("o_orderkey", 3)} AS d3
      FROM orders
    ),
    draws AS (
      SELECT g.b,
             {_boot_count_sql(_boot_u_sql("g.b"))} AS cnt,
             cents
      FROM hashed CROSS JOIN generate_series(0, {_BOOT_B - 1}) AS g(b)
    )
    SELECT CAST(b AS BIGINT) AS resample_id,
           CAST(SUM(cnt) AS BIGINT) AS n_sampled,
           CAST(SUM(cnt * cents) AS BIGINT) AS sum_cents,
           CAST(SUM(cnt * cents) AS DOUBLE) / SUM(cnt) AS mean_cents
    FROM draws GROUP BY b
    """,
    tags=("stats", "bootstrap", "resampling"),
)
def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., the streaming/distributed
    bootstrap): instead of drawing N rows with replacement — which
    needs global coordination — each row enters resample b with an
    independent Poisson(1) multiplicity, derived here from an
    md5-uniform so the resamples are deterministic and
    engine-portable. The per-resample means' spread IS the sampling
    distribution of the mean; no step touches more than one row at a
    time until the 32-group aggregate.

    Exactness: multiplicities are exact integer inverse-CDF lookups
    (six 16-bit threshold literals; truncation tail mass 6e-4, bias
    from threshold rounding ~8e-6); per-resample sums are exact int64
    in cents; the reported mean is the single division of two hashed
    integers.

    Plan: 4 md5 digests per row (each resample reads a 4-hex-digit
    window — see _BOOT_SCALE comment), explode x32 map-side; ONE hash
    aggregate with map-side combine collapses to 32 rows regardless
    of input size — the shuffle carries 32 x n_partitions partial
    rows. This is the pattern for putting error bars on any 100 TB
    point estimate in one pass."""
    o = load_table(spark, sf_dir, "orders")
    hashed = o.select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        *[
            F.expr(_boot_digest_sql("o_orderkey", d)).alias(f"d{d}")
            for d in range(4)
        ],
    )
    draws = hashed.select(
        "cents",
        "d0",
        "d1",
        "d2",
        "d3",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).select(
        "b",
        "cents",
        F.expr(_boot_count_sql(_boot_u_sql("b"))).alias("cnt"),
    )
    return (
        draws.groupBy(F.col("b").cast("long").alias("resample_id"))
        .agg(
            F.sum("cnt").alias("n_sampled"),
            F.sum(F.col("cnt") * F.col("cents")).alias("sum_cents"),
        )
        .select(
            "resample_id",
            "n_sampled",
            "sum_cents",
            (F.col("sum_cents").cast("double") / F.col("n_sampled")).alias(
                "mean_cents"
            ),
        )
    )


# Exact integer sqrt over DECIMAL(38,0)/HUGEINT operands: the double
# sqrt's floor can be off by one even when the radicand exceeds 2^53
# (absolute sqrt error stays << 1 up to ~1e30); one CASE correction
# with exact wide-integer comparisons pins it in both dialects.
def _isqrt_wide_sql(n: str, wide_cast: str) -> str:
    s0 = f"CAST(FLOOR(SQRT(CAST({n} AS DOUBLE))) AS BIGINT)"
    s0w = f"CAST({s0} AS {wide_cast})"
    return (
        f"(CASE WHEN ({s0w} + 1) * ({s0w} + 1) <= {n} THEN {s0} + 1"
        f" WHEN {s0w} * {s0w} > {n} THEN {s0} - 1 ELSE {s0} END)"
    )


@query(
    "q_rate_wilson_ci",
    oracle=f"""
    WITH r AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value > 500 THEN 1 ELSE 0 END) AS BIGINT)
               AS k
      FROM events GROUP BY event_type
    ),
    w AS (
      SELECT event_type, n, k,
             CAST(n AS HUGEINT) * (CAST(k AS HUGEINT) * (n - k) + n)
               AS rad
      FROM r
    )
    SELECT event_type, n, k,
           CAST((1000000 * k) // n AS BIGINT) AS rate_ppm,
           CAST((1000000 * (k + 2)) // (n + 4) AS BIGINT) AS center_ppm,
           CAST((2000000 * {_isqrt_wide_sql("rad", "HUGEINT")})
                // (CAST(n AS HUGEINT) * (n + 4)) AS BIGINT) AS hw_ppm
    FROM w
    """,
    tags=("stats", "confidence-interval", "wilson", "events"),
)
def q_rate_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval (z = 2, ~95%) for the per-event-type rate
    of high-value events — the rate-plus-uncertainty primitive behind
    every monitored conversion metric. With z = 2 the whole interval
    is integer-exact: center = (k+2)/(n+4) in truncating ppm, and the
    half-width 2/(n+4) * sqrt((k(n-k)+n)/n) rationalizes to
    2e6 * isqrt(n*(k(n-k)+n)) / (n*(n+4)) — the radicand is ~n^3/4 so
    it lives in DECIMAL(38,0)/HUGEINT, and isqrt is the exact integer
    square root (floored double sqrt + one-step correction with
    wide-integer comparisons, identical in both engines).

    Scale: one hash aggregate per event type; everything after is
    per-group scalar arithmetic."""
    e = load_table(spark, sf_dir, "events")
    r = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") > 500, 1).otherwise(0)).alias("k"),
    )
    w = r.withColumn(
        "rad",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * (CAST(k AS DECIMAL(38,0)) * (n - k) + n)"
        ),
    )
    return w.select(
        "event_type",
        "n",
        "k",
        F.expr("CAST((1000000 * k) div n AS BIGINT)").alias("rate_ppm"),
        F.expr("CAST((1000000 * (k + 2)) div (n + 4) AS BIGINT)").alias(
            "center_ppm"
        ),
        F.expr(
            f"CAST((CAST(2000000 AS DECIMAL(38,0))"
            f" * {_isqrt_wide_sql('rad', 'DECIMAL(38,0)')})"
            f" div (CAST(n AS DECIMAL(38,0)) * (n + 4)) AS BIGINT)"
        ).alias("hw_ppm"),
    )


@query(
    "q_mutual_information",
    oracle="""
    WITH cells AS MATERIALIZED (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_ij
      FROM documents GROUP BY lang, source
    ),
    m AS (
      SELECT lang, source, n_ij,
             CAST(SUM(n_ij) OVER (PARTITION BY lang) AS BIGINT) AS r_i,
             CAST(SUM(n_ij) OVER (PARTITION BY source) AS BIGINT) AS c_j,
             CAST(SUM(n_ij) OVER () AS BIGINT) AS n
      FROM cells
    ),
    t AS (
      SELECT lang, source, n_ij, r_i, c_j,
             n_ij * CAST(ROUND(1000000 * ln(
                 (CAST(n_ij AS DOUBLE) * n) / (CAST(r_i AS DOUBLE) * c_j)
             )) AS BIGINT) AS term_micro
      FROM m
    )
    SELECT lang, source, n_ij, r_i, c_j, term_micro,
           CAST(SUM(term_micro) OVER () AS BIGINT) AS mi_total_micro
    FROM t
    """,
    tags=("stats", "mutual-information", "association", "llm-pipeline"),
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between lang and source — the association
    strength behind "does source determine language" (feature-
    selection / leakage screening). Each cell contributes
    n_ij * ln(n_ij*N / (r_i*c_j)); the log of the exact rational is
    quantized ONCE per cell to micro-nats (the Kaplan-Meier pattern),
    so the per-cell term and the windowed total are exact BIGINTs and
    the hash carries the full MI surface, margins included.

    Scale: one (lang, source) hash aggregate; margins and the total
    are windows over the |langs| x |sources| cell table (bounded by
    the category domains, not the corpus)."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_ij")
    )
    m = cells.select(
        "lang",
        "source",
        "n_ij",
        F.expr(
            "CAST(SUM(n_ij) OVER (PARTITION BY lang) AS BIGINT)"
        ).alias("r_i"),
        F.expr(
            "CAST(SUM(n_ij) OVER (PARTITION BY source) AS BIGINT)"
        ).alias("c_j"),
        F.expr("CAST(SUM(n_ij) OVER () AS BIGINT)").alias("n"),
    )
    t = m.select(
        "lang",
        "source",
        "n_ij",
        "r_i",
        "c_j",
        F.expr(
            "n_ij * CAST(ROUND(1000000 * ln("
            "(CAST(n_ij AS DOUBLE) * n) / (CAST(r_i AS DOUBLE) * c_j)"
            ")) AS BIGINT)"
        ).alias("term_micro"),
    )
    return t.select(
        "*",
        F.expr("CAST(SUM(term_micro) OVER () AS BIGINT)").alias(
            "mi_total_micro"
        ),
    )


@query(
    "q_two_proportion_ztest",
    oracle="""
    WITH src AS MATERIALIZED (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS k
      FROM documents GROUP BY source
    )
    SELECT a.source AS s1, b.source AS s2,
           a.n AS n1, a.k AS k1, b.n AS n2, b.k AS k2,
           CAST((1000000 * (a.n + b.n)
                 * CAST(a.k * b.n - b.k * a.n AS HUGEINT)
                 * (a.k * b.n - b.k * a.n))
                // (CAST(a.n AS HUGEINT) * b.n * (a.k + b.k)
                    * (a.n + b.n - a.k - b.k))
                AS BIGINT) AS z2_micro,
           CAST((1000000 * (a.n + b.n)
                 * CAST(a.k * b.n - b.k * a.n AS HUGEINT)
                 * (a.k * b.n - b.k * a.n))
                // (CAST(a.n AS HUGEINT) * b.n * (a.k + b.k)
                    * (a.n + b.n - a.k - b.k))
                AS BIGINT) >= 3841459 AS significant
    FROM src a JOIN src b ON a.source < b.source
    WHERE a.k + b.k > 0 AND a.k + b.k < a.n + b.n
    """,
    tags=("stats", "hypothesis-test", "ab-test", "proportions"),
)
def q_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise pooled two-proportion z-test across sources for the
    lang = en rate — the A/B-comparison primitive ("is source X's
    English share really different from Y's"). z^2 rationalizes
    completely: N*(k1*n2 - k2*n1)^2 / (n1*n2*K*(N-K)) with
    K = k1+k2, N = n1+n2 — so z2_micro is one exact truncating wide-
    integer division, and significance at alpha = 0.05 is the integer
    comparison z2_micro >= 3841459 (chi-square_1 critical value in
    micro units). Degenerate pooled rates (0 or 1) are excluded.

    Scale: one per-source hash aggregate; the pair grid is
    |sources|^2/2 rows over a broadcast-sized table."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("k"),
    )
    a, b = src.alias("a"), src.alias("b")
    z2 = (
        "CAST((1000000 * (a.n + b.n)"
        " * CAST(a.k * b.n - b.k * a.n AS DECIMAL(38,0))"
        " * (a.k * b.n - b.k * a.n))"
        " div (CAST(a.n AS DECIMAL(38,0)) * b.n * (a.k + b.k)"
        " * (a.n + b.n - a.k - b.k)) AS BIGINT)"
    )
    return (
        a.join(F.broadcast(b), F.col("a.source") < F.col("b.source"))
        .filter(
            (F.col("a.k") + F.col("b.k") > 0)
            & (F.col("a.k") + F.col("b.k") < F.col("a.n") + F.col("b.n"))
        )
        .select(
            F.col("a.source").alias("s1"),
            F.col("b.source").alias("s2"),
            F.col("a.n").alias("n1"),
            F.col("a.k").alias("k1"),
            F.col("b.n").alias("n2"),
            F.col("b.k").alias("k2"),
            F.expr(z2).alias("z2_micro"),
            F.expr(f"{z2} >= 3841459").alias("significant"),
        )
    )


@query(
    "q_wasserstein_1d",
    oracle="""
    WITH h AS MATERIALIZED (
      SELECT source, n_chars AS x, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY source, n_chars
    ),
    support AS MATERIALIZED (
      SELECT x,
             LEAD(x) OVER (ORDER BY x) - x AS dx
      FROM (SELECT DISTINCT x FROM h)
    ),
    srcs AS MATERIALIZED (
      SELECT source, CAST(SUM(cnt) AS BIGINT) AS total FROM h
      GROUP BY source
    ),
    dense AS MATERIALIZED (
      SELECT s.source, g.x, g.dx, s.total,
             CAST(SUM(COALESCE(h.cnt, 0)) OVER (
                 PARTITION BY s.source ORDER BY g.x) AS BIGINT) AS cdf
      FROM srcs s
      CROSS JOIN support g
      LEFT JOIN h ON h.source = s.source AND h.x = g.x
    )
    SELECT a.source AS s1, b.source AS s2,
           a.total AS n1, b.total AS n2,
           CAST(SUM(a.dx * ABS(a.cdf * b.total - b.cdf * a.total))
                AS BIGINT) AS num,
           CAST(SUM(a.dx * ABS(a.cdf * b.total - b.cdf * a.total))
                // (a.total * b.total) AS BIGINT) AS w1_chars
    FROM dense a
    JOIN dense b ON b.x = a.x AND a.source < b.source
    WHERE a.dx IS NOT NULL
    GROUP BY a.source, b.source, a.total, b.total
    """,
    tags=("stats", "wasserstein", "distribution-distance", "llm-pipeline"),
)
def q_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 1-D Wasserstein-1 (earth mover's) distance between
    source document-length distributions — the drift metric that,
    unlike KS (q_ks_test) or TV, weights HOW FAR mass must move. On
    the real line W1 integrates |CDF_a - CDF_b|, which over a
    discrete support grid is sum dx * |F_a*n_b - F_b*n_a| / (n_a*n_b)
    — exact cross-multiplied integers end to end; w1_chars is the
    truncating distance in characters.

    Scale: CDFs come from per-source cumulative windows over the
    |sources| x |support| dense grid (bounded by the value domain —
    pre-bucket a continuous measure first); the pair term is one
    equi-join on the grid point. Nothing touches |docs|^2."""
    d = load_table(spark, sf_dir, "documents")
    h = d.groupBy("source", F.col("n_chars").alias("x")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    support = (
        h.select("x")
        .distinct()
        .select(
            "x",
            (F.lead("x").over(Window.orderBy("x")) - F.col("x")).alias(
                "dx"
            ),
        )
    )
    srcs = h.groupBy("source").agg(F.sum("cnt").alias("total"))
    dense = (
        F.broadcast(srcs)
        .crossJoin(F.broadcast(support))
        .join(h, ["source", "x"], "left")
        .select(
            "source",
            "x",
            "dx",
            "total",
            F.sum(F.coalesce(F.col("cnt"), F.lit(0)))
            .over(Window.partitionBy("source").orderBy("x"))
            .alias("cdf"),
        )
    )
    a, b = dense.alias("a"), dense.alias("b")
    return (
        a.join(
            b,
            (F.col("b.x") == F.col("a.x"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .filter(F.col("a.dx").isNotNull())
        .groupBy(
            F.col("a.source").alias("s1"),
            F.col("b.source").alias("s2"),
            F.col("a.total").alias("n1"),
            F.col("b.total").alias("n2"),
        )
        .agg(
            F.sum(
                F.col("a.dx")
                * F.abs(
                    F.col("a.cdf") * F.col("b.total")
                    - F.col("b.cdf") * F.col("a.total")
                )
            ).alias("num"),
            F.expr(
                "CAST(SUM(a.dx * ABS(a.cdf * b.total - b.cdf * a.total))"
                " div (FIRST(a.total) * FIRST(b.total)) AS BIGINT)"
            ).alias("w1_chars"),
        )
    )


@query(
    "q_hill_tail_index",
    oracle="""
    WITH topk AS MATERIALIZED (
      SELECT CAST(n_chars AS BIGINT) AS x,
             CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
                  AS BIGINT) AS rn
      FROM documents
      ORDER BY n_chars DESC, doc_id LIMIT 501
    ),
    cut AS (
      SELECT x AS xk1 FROM topk WHERE rn = 501
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           MIN(cut.xk1) AS x_kplus1,
           CAST(SUM(CAST(ROUND(1000000 * ln(CAST(topk.x AS DOUBLE)
                                            / cut.xk1))
                         AS BIGINT)) AS BIGINT) AS sum_micro_nats,
           CAST(SUM(CAST(ROUND(1000000 * ln(CAST(topk.x AS DOUBLE)
                                            / cut.xk1))
                         AS BIGINT)) // COUNT(*) AS BIGINT)
             AS hill_gamma_micro,
           CAST((CAST(1000000 AS HUGEINT) * 1000000 * COUNT(*))
                // NULLIF(SUM(CAST(ROUND(1000000
                      * ln(CAST(topk.x AS DOUBLE) / cut.xk1))
                      AS BIGINT)), 0) AS BIGINT) AS alpha_micro
    FROM topk, cut
    WHERE topk.rn <= 500
    """,
    tags=("stats", "heavy-tail", "hill-estimator", "llm-pipeline"),
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the document-length tail index over the top
    k = 500 order statistics: gamma = (1/k) sum ln(x_i / x_{k+1}),
    alpha = 1/gamma — the heavy-tail diagnostic that says whether
    length outliers follow a power law (pairs with q_zipf_slope's
    frequency-side law). Each log ratio is quantized once to
    micro-nats (identical doubles in both engines), so the sum,
    gamma, and alpha are exact truncating-integer arithmetic.

    Scale: the only data pass is TakeOrderedAndProject for the top
    k+1 rows (ties at the cutoff share a value, so the multiset of
    contributions is order-independent); everything downstream runs
    on k rows plus a broadcast 1-row cutoff stitch."""
    d = load_table(spark, sf_dir, "documents")
    topk = (
        d.select(F.col("n_chars").cast("long").alias("x"), "doc_id")
        .orderBy(F.desc("x"), "doc_id")
        .limit(501)
        .select(
            "x",
            F.expr(
                "CAST(ROW_NUMBER() OVER (ORDER BY x DESC, doc_id)"
                " AS BIGINT)"
            ).alias("rn"),
        )
        .localCheckpoint()  # feeds the cutoff row and the top-k body
    )
    cut = topk.filter(F.col("rn") == 501).select(
        F.col("x").alias("xk1")
    )
    body = topk.filter(F.col("rn") <= 500).join(F.broadcast(cut))
    micro = (
        "CAST(ROUND(1000000 * ln(CAST(x AS DOUBLE) / xk1)) AS BIGINT)"
    )
    return body.agg(
        F.count(F.lit(1)).alias("k"),
        F.min("xk1").alias("x_kplus1"),
        F.expr(f"CAST(SUM({micro}) AS BIGINT)").alias("sum_micro_nats"),
        F.expr(f"CAST(SUM({micro}) div COUNT(*) AS BIGINT)").alias(
            "hill_gamma_micro"
        ),
        F.expr(
            f"CAST((CAST(1000000 AS DECIMAL(38,0)) * 1000000 * COUNT(*))"
            f" div NULLIF(SUM({micro}), 0) AS BIGINT)"
        ).alias("alpha_micro"),
    )


def _europe_arms(spark: SparkSession, sf_dir: str, *extra) -> DataFrame:
    """Orders labeled by A/B arm — grp = 'treat' for customers of
    EUROPE, 'control' for the rest — with the order value in exact
    cents, plus any `extra` columns evaluated over the star join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .select(
            F.when(F.col("r_name") == "EUROPE", "treat")
            .otherwise("control")
            .alias("grp"),
            *extra,
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
    )


def _arm_moments(labeled: DataFrame) -> DataFrame:
    """One row of exact per-arm cent moments: (n1, s1, ss1) for treat
    and (n2, s2, ss2) for control — count, sum, and DECIMAL(38,0) sum
    of squares."""
    m = labeled.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents")).alias("ss"),
    )
    a = m.filter(F.col("grp") == "treat").select(
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("ss").alias("ss1")
    )
    b = m.filter(F.col("grp") == "control").select(
        F.col("n").alias("n2"), F.col("s").alias("s2"), F.col("ss").alias("ss2")
    )
    return a.join(F.broadcast(b))


@query(
    "q_diff_in_diff",
    oracle="""
    WITH labeled AS (
      SELECT CASE WHEN r.r_name = 'EUROPE' THEN 'treat'
                  ELSE 'control' END AS grp,
             CASE WHEN o.o_orderdate >= TIMESTAMP '1998-07-01'
                  THEN 'post' ELSE 'pre' END AS period,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    cells AS MATERIALIZED (
      SELECT grp, period,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS cents,
             CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mean_cents
      FROM labeled GROUP BY grp, period
    )
    SELECT grp, period, n, cents, mean_cents,
           CAST(SUM(CASE WHEN grp = 'treat' AND period = 'post'
                         THEN mean_cents
                         WHEN grp = 'treat' AND period = 'pre'
                         THEN -mean_cents
                         WHEN grp = 'control' AND period = 'post'
                         THEN -mean_cents
                         ELSE mean_cents END) OVER () AS BIGINT)
             AS did_cents
    FROM cells
    """,
    tags=("stats", "causal", "diff-in-diff", "ab-test"),
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of order value: treatment
    group = customers of EUROPE, cutover 1998-07-01 — the 2x2
    pre/post x treat/control table with the DiD estimator
    (T_post - T_pre) - (C_post - C_pre) over truncating-integer cell
    means, the minimum viable causal read of a rollout when
    randomization wasn't available. All four cells are hashed with
    exact counts and cent sums; the estimator is a window sum over
    the 4-row frame, so the whole causal surface is integer-exact.

    Scale: one broadcast star join + one 4-cell aggregate; the
    estimator never touches raw rows again."""
    labeled = _europe_arms(
        spark,
        sf_dir,
        F.when(
            F.col("o_orderdate") >= F.lit("1998-07-01").cast("timestamp"),
            "post",
        )
        .otherwise("pre")
        .alias("period"),
    )
    cells = labeled.groupBy("grp", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("cents"),
        F.expr("CAST(SUM(cents) div COUNT(*) AS BIGINT)").alias(
            "mean_cents"
        ),
    )
    return cells.select(
        "grp",
        "period",
        "n",
        "cents",
        "mean_cents",
        F.expr(
            "CAST(SUM(CASE WHEN grp = 'treat' AND period = 'post'"
            " THEN mean_cents"
            " WHEN grp = 'treat' AND period = 'pre' THEN -mean_cents"
            " WHEN grp = 'control' AND period = 'post' THEN -mean_cents"
            " ELSE mean_cents END) OVER () AS BIGINT)"
        ).alias("did_cents"),
    )


@query(
    "q_overdispersion",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(y) AS BIGINT) AS total,
           CAST(SUM(y * y) AS BIGINT) AS sum_sq,
           CAST((1000000 * (COUNT(*) * SUM(y * y) - SUM(y) * SUM(y)))
                // (NULLIF(COUNT(*) - 1, 0) * SUM(y)) AS BIGINT)
             AS dispersion_ppm,
           (1000000 * (COUNT(*) * SUM(y * y) - SUM(y) * SUM(y)))
                // (NULLIF(COUNT(*) - 1, 0) * SUM(y)) > 1500000
             AS overdispersed
    FROM daily GROUP BY event_type
    """,
    tags=("stats", "overdispersion", "count-data", "timeseries"),
)
def q_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of daily event
    counts per type — the Poisson sanity check behind alerting
    thresholds and negative-binomial model selection: D = s^2/ybar,
    rationalized to n*(n*Syy - Sy^2) / ((n-1) * n * Sy) and reduced
    to one truncating ppm division over exact BIGINT moments, with a
    1.5x flag for clear overdispersion. No floats anywhere.

    Scale: one daily hash aggregate, one per-type moment reduction —
    both map-side-combinable."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    disp = (
        "(1000000 * (COUNT(*) * SUM(y * y) - SUM(y) * SUM(y)))"
        " div (NULLIF(COUNT(*) - 1, 0) * SUM(y))"
    )
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("y").alias("total"),
        F.sum(F.col("y") * F.col("y")).alias("sum_sq"),
        F.expr(f"CAST({disp} AS BIGINT)").alias("dispersion_ppm"),
        F.expr(f"{disp} > 1500000").alias("overdispersed"),
    )


@query(
    "q_welch_ttest",
    oracle="""
    WITH labeled AS (
      SELECT CASE WHEN r.r_name = 'EUROPE' THEN 'treat'
                  ELSE 'control' END AS grp,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    m AS MATERIALIZED (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s,
             SUM(CAST(cents AS HUGEINT) * cents) AS ss
      FROM labeled GROUP BY grp
    ),
    w AS (
      SELECT a.n AS n1, a.s AS s1, a.ss AS ss1,
             b.n AS n2, b.s AS s2, b.ss AS ss2
      FROM m a JOIN m b
        ON a.grp = 'treat' AND b.grp = 'control'
    )
    SELECT n1, s1, n2, s2,
           CAST(s1 // n1 - s2 // n2 AS BIGINT) AS mean_diff_cents,
           CAST((1000000 * (CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1)
                         * (CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1))
                // (CAST(n1 AS HUGEINT) * n1 * n2 * n2 *
                    ((n1 * ss1 - CAST(s1 AS HUGEINT) * s1)
                       // (CAST(n1 AS HUGEINT) * n1 * (n1 - 1))
                     + (n2 * ss2 - CAST(s2 AS HUGEINT) * s2)
                       // (CAST(n2 AS HUGEINT) * n2 * (n2 - 1))))
                AS BIGINT) AS t2_micro
    FROM w
    """,
    tags=("stats", "hypothesis-test", "welch", "ab-test"),
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t^2 for order value, EUROPE vs rest — the unequal-
    variance two-sample test that pairs with q_two_proportion_ztest's
    rate comparison: t^2 = (m1-m2)^2 / (s1^2/n1 + s2^2/n2). The
    variance-over-n terms are truncating wide-integer divisions of
    exact cent moments (quantized once each, like the ppm matrix
    powers), so t2_micro is bit-identical across engines; the exact
    moment sums themselves are also hashed.

    Scale: one broadcast star join, one 2-group moment aggregate;
    the test statistic is scalar arithmetic on 2 rows."""
    w = _arm_moments(_europe_arms(spark, sf_dir))
    return w.select(
        "n1",
        "s1",
        "n2",
        "s2",
        F.expr("CAST(s1 div n1 - s2 div n2 AS BIGINT)").alias(
            "mean_diff_cents"
        ),
        F.expr(
            "CAST((1000000 * (CAST(s1 AS DECIMAL(38,0)) * n2"
            " - CAST(s2 AS DECIMAL(38,0)) * n1)"
            " * (CAST(s1 AS DECIMAL(38,0)) * n2"
            " - CAST(s2 AS DECIMAL(38,0)) * n1))"
            " div (CAST(n1 AS DECIMAL(38,0)) * n1 * n2 * n2 *"
            " ((n1 * ss1 - CAST(s1 AS DECIMAL(38,0)) * s1)"
            " div (CAST(n1 AS DECIMAL(38,0)) * n1 * (n1 - 1))"
            " + (n2 * ss2 - CAST(s2 AS DECIMAL(38,0)) * s2)"
            " div (CAST(n2 AS DECIMAL(38,0)) * n2 * (n2 - 1))))"
            " AS BIGINT)"
        ).alias("t2_micro"),
    )


@query(
    "q_quantile_treatment_effect",
    oracle="""
    WITH labeled AS (
      SELECT CASE WHEN r.r_name = 'EUROPE' THEN 'treat'
                  ELSE 'control' END AS grp,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    h AS (
      SELECT grp, cents, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM labeled GROUP BY grp, cents
    ),
    cum AS MATERIALIZED (
      SELECT grp, cents,
             CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY cents)
                  AS BIGINT) AS cw,
             CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT) AS tw
      FROM h
    ),
    qs AS (
      SELECT grp, pct,
             MIN(CASE WHEN 10 * cw >= pct * tw THEN cents END) AS v
      FROM cum
      CROSS JOIN (SELECT CAST(unnest([1,2,3,4,5,6,7,8,9]) AS BIGINT)
                    AS pct)
      GROUP BY grp, pct
    )
    SELECT t.pct AS decile,
           t.v AS treat_cents, c.v AS control_cents,
           CAST(t.v - c.v AS BIGINT) AS qte_cents
    FROM qs t JOIN qs c
      ON c.pct = t.pct AND t.grp = 'treat' AND c.grp = 'control'
    """,
    tags=("stats", "causal", "quantile-treatment-effect", "ab-test"),
)
def q_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects for order value, EUROPE vs rest:
    the per-decile difference of exact order statistics — where in
    the distribution the effect lives (a mean shift from whales looks
    nothing like a broad shift; Welch's t alone can't tell them
    apart). Each group's deciles come from the cent-histogram rank
    trick (no sort of raw rows), so every QTE value is an exact
    integer difference.

    Scale: one star join + per-group value histogram; the decile
    grid is a constant 9-row broadcast; everything after the
    histogram runs on |distinct cents| rows per group."""
    h = _europe_arms(spark, sf_dir).groupBy("grp", "cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = h.select(
        "grp",
        "cents",
        F.expr(
            "CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY cents)"
            " AS BIGINT)"
        ).alias("cw"),
        F.expr(
            "CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT)"
        ).alias("tw"),
    )
    grid = spark.createDataFrame([(i,) for i in range(1, 10)], "pct long")
    qs = (
        cum.crossJoin(F.broadcast(grid))
        .groupBy("grp", "pct")
        .agg(
            F.expr(
                "MIN(CASE WHEN 10 * cw >= pct * tw THEN cents END)"
            ).alias("v")
        )
        .localCheckpoint()  # both sides of the treat/control stitch
    )
    t = qs.filter(F.col("grp") == "treat").select(
        F.col("pct").alias("decile"), F.col("v").alias("treat_cents")
    )
    ctl = qs.filter(F.col("grp") == "control").select(
        F.col("pct").alias("decile"), F.col("v").alias("control_cents")
    )
    return t.join(ctl, "decile").select(
        "decile",
        "treat_cents",
        "control_cents",
        (F.col("treat_cents") - F.col("control_cents")).alias("qte_cents"),
    )


@query(
    "q_delta_method_ratio",
    oracle="""
    WITH labeled AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey,
             CAST(ROUND(o.o_totalprice) AS BIGINT) AS dollars
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    pu AS (
      SELECT seg, o_custkey,
             CAST(SUM(dollars) AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM labeled GROUP BY seg, o_custkey
    ),
    m AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM pu GROUP BY seg
    )
    SELECT seg, n, sx AS sum_rev_dollars, sy AS sum_orders,
           CAST((1000000 * CAST(sx AS HUGEINT)) // sy AS BIGINT)
             AS ratio_micro,
           CAST((CAST(sy AS HUGEINT) * sy * (n * sxx - CAST(sx AS HUGEINT) * sx)
                 - 2 * CAST(sx AS HUGEINT) * sy * (n * sxy - CAST(sx AS HUGEINT) * sy)
                 + CAST(sx AS HUGEINT) * sx * (n * syy - CAST(sy AS HUGEINT) * sy))
                // (CAST(sy AS HUGEINT) * sy * sy * sy * (n - 1))
                AS BIGINT) AS var_delta_units
    FROM m
    """,
    tags=("stats", "delta-method", "ratio-metric", "ab-test"),
)
def q_delta_method_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method variance of a RATIO metric (revenue per order,
    customer = randomization unit) per market segment — the correct
    A/B variance when the metric's numerator and denominator are both
    per-unit sums (naive per-order variance understates it because
    orders within a customer are correlated):
        Var(Sx/Sy) ~= [Sy^2(n*Sxx - Sx^2) - 2*Sx*Sy(n*Sxy - Sx*Sy)
                       + Sx^2(n*Syy - Sy^2)] / (Sy^4 (n-1)).
    The bracket equals the nonneg sample SS of (x_i - R*y_i), so the
    single truncating wide-integer division (HUGEINT // vs DECIMAL(38)
    div) is floor on both engines; every hashed column is an exact
    integer derived from whole-dollar moments.

    Scale: one broadcast join, a per-(segment, customer) partial agg,
    then a 5-row per-segment moment agg — two exchanges total, and
    the delta-method algebra is scalar math on the 5 output rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    labeled = o.join(
        F.broadcast(c), F.col("c_custkey") == F.col("o_custkey")
    ).select(
        F.col("c_mktsegment").alias("seg"),
        "o_custkey",
        F.expr("CAST(ROUND(o_totalprice) AS BIGINT)").alias("dollars"),
    )
    pu = labeled.groupBy("seg", "o_custkey").agg(
        F.sum("dollars").alias("x"), F.count(F.lit(1)).alias("y")
    )
    m = pu.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    return m.select(
        "seg",
        "n",
        F.col("sx").alias("sum_rev_dollars"),
        F.col("sy").alias("sum_orders"),
        F.expr(
            "CAST((1000000 * CAST(sx AS DECIMAL(38,0))) div sy AS BIGINT)"
        ).alias("ratio_micro"),
        F.expr(
            "CAST((CAST(sy AS DECIMAL(38,0)) * sy"
            " * (n * sxx - CAST(sx AS DECIMAL(38,0)) * sx)"
            " - 2 * CAST(sx AS DECIMAL(38,0)) * sy"
            " * (n * sxy - CAST(sx AS DECIMAL(38,0)) * sy)"
            " + CAST(sx AS DECIMAL(38,0)) * sx"
            " * (n * syy - CAST(sy AS DECIMAL(38,0)) * sy))"
            " div (CAST(sy AS DECIMAL(38,0)) * sy * sy * sy * (n - 1))"
            " AS BIGINT)"
        ).alias("var_delta_units"),
    )


@query(
    "q_cuped_adjustment",
    oracle="""
    WITH labeled AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey,
             CASE WHEN CAST(o.o_orderdate AS DATE) < DATE '1995-07-01'
                  THEN CAST(ROUND(o.o_totalprice) AS BIGINT) ELSE 0 END AS pre_d,
             CASE WHEN CAST(o.o_orderdate AS DATE) >= DATE '1995-07-01'
                  THEN CAST(ROUND(o.o_totalprice) AS BIGINT) ELSE 0 END AS post_d
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    pu AS (
      SELECT seg, o_custkey,
             CAST(SUM(pre_d) AS BIGINT) AS x,
             CAST(SUM(post_d) AS BIGINT) AS y
      FROM labeled GROUP BY seg, o_custkey
    ),
    m AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM pu GROUP BY seg
    ),
    d AS (
      SELECT seg, n, sx, sy,
             CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
             CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy
      FROM m
    )
    SELECT seg, n, sx AS sum_pre_dollars, sy AS sum_post_dollars,
           CAST((1000000 * num) // dx AS BIGINT) AS theta_micro,
           CAST(((1000000 * num) // dx * num) // dy AS BIGINT)
             AS var_reduction_ppm
    FROM d
    """,
    tags=("stats", "cuped", "variance-reduction", "ab-test"),
)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment-using-pre-experiment-data)
    variance reduction per market segment: pre-period spend x predicts
    post-period spend y per customer; theta = cov(x,y)/var(x) is the
    adjustment coefficient and rho^2 = cov^2/(var_x*var_y) is the
    fraction of metric variance CUPED removes (Deng et al. 2013's
    headline number). Both are single chains of wide-integer ops over
    exact dollar moments — `//` (DuckDB, truncating on HUGEINT) and
    `div` (Spark, truncating on DECIMAL(38,0)) agree at every
    intermediate, so theta_micro and var_reduction_ppm are
    bit-identical across engines with no float anywhere.

    Scale: one broadcast join, per-(segment, customer) partial agg,
    5-row moment agg — the identical two-exchange shape as
    q_delta_method_ratio; the CUPED algebra is scalar math on 5 rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    labeled = o.join(
        F.broadcast(c), F.col("c_custkey") == F.col("o_custkey")
    ).select(
        F.col("c_mktsegment").alias("seg"),
        "o_custkey",
        F.expr(
            "CASE WHEN CAST(o_orderdate AS DATE) < DATE'1995-07-01'"
            " THEN CAST(ROUND(o_totalprice) AS BIGINT) ELSE 0 END"
        ).alias("pre_d"),
        F.expr(
            "CASE WHEN CAST(o_orderdate AS DATE) >= DATE'1995-07-01'"
            " THEN CAST(ROUND(o_totalprice) AS BIGINT) ELSE 0 END"
        ).alias("post_d"),
    )
    pu = labeled.groupBy("seg", "o_custkey").agg(
        F.sum("pre_d").alias("x"), F.sum("post_d").alias("y")
    )
    m = pu.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    d = m.select(
        "seg",
        "n",
        "sx",
        "sy",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"
        ).alias("num"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
        ).alias("dx"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"
        ).alias("dy"),
    )
    return d.select(
        "seg",
        "n",
        F.col("sx").alias("sum_pre_dollars"),
        F.col("sy").alias("sum_post_dollars"),
        F.expr("CAST((1000000 * num) div dx AS BIGINT)").alias(
            "theta_micro"
        ),
        F.expr(
            "CAST(((1000000 * num) div dx * num) div dy AS BIGINT)"
        ).alias("var_reduction_ppm"),
    )


@query(
    "q_srm_check",
    oracle="""
    WITH assigned AS (
      SELECT c_mktsegment AS seg,
             CASE WHEN instr('0123456789abcdef',
                             substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1))
                       - 1 < 8
                  THEN 'A' ELSE 'B' END AS arm
      FROM customer
    ),
    counts AS (
      SELECT seg,
             CAST(COUNT(*) FILTER (WHERE arm = 'A') AS BIGINT) AS n_a,
             CAST(COUNT(*) FILTER (WHERE arm = 'B') AS BIGINT) AS n_b
      FROM assigned GROUP BY seg
    )
    SELECT seg, n_a, n_b,
           CAST((1000000 * (n_a - n_b) * (n_a - n_b)) // (n_a + n_b)
                AS BIGINT) AS chi2_micro,
           ((1000000 * (n_a - n_b) * (n_a - n_b)) // (n_a + n_b)
              > 3841459) AS srm_flag
    FROM counts
    """,
    tags=("stats", "srm", "ab-test", "guardrail"),
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for a deterministic md5 50/50
    split of customers, per segment: chi^2 with one degree of freedom
    against the expected equal split reduces to (n_a - n_b)^2 / n,
    held in exact micro units, with the 0.05-level flag
    (chi^2 > 3.841459) computed on the integer statistic. SRM is the
    first check any experimentation platform runs — a triggered flag
    means the assignment itself is broken and every downstream metric
    is garbage. Split idiom matches q_hash_split: first hex digit of
    md5(custkey), so assignment is reproducible everywhere.

    Scale: one map-side hash + one 2-counter agg per segment; the
    statistic is scalar math on 5 rows."""
    c = load_table(spark, sf_dir, "customer")
    assigned = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.expr(
            "CASE WHEN instr('0123456789abcdef',"
            " substr(md5(CAST(c_custkey AS STRING)), 1, 1)) - 1 < 8"
            " THEN 'A' ELSE 'B' END"
        ).alias("arm"),
    )
    counts = assigned.groupBy("seg").agg(
        F.sum(F.expr("CASE WHEN arm = 'A' THEN 1 ELSE 0 END")).alias("n_a"),
        F.sum(F.expr("CASE WHEN arm = 'B' THEN 1 ELSE 0 END")).alias("n_b"),
    )
    return counts.select(
        "seg",
        "n_a",
        "n_b",
        F.expr(
            "CAST((1000000 * (n_a - n_b) * (n_a - n_b)) div (n_a + n_b)"
            " AS BIGINT)"
        ).alias("chi2_micro"),
        F.expr(
            "(1000000 * (n_a - n_b) * (n_a - n_b)) div (n_a + n_b)"
            " > 3841459"
        ).alias("srm_flag"),
    )


def _mde_isqrt(n: str, wide: str) -> str:
    """Exact integer sqrt of a wide integer: floor(sqrt(double)) can
    be off by one after wide-int -> double rounding; one CASE pins it
    (curation._isqrt_sql's correction, but the squares here exceed
    int64 so they compare in the dialect's wide type — `wide` is
    'HUGEINT' (DuckDB) or 'DECIMAL(38,0)' (Spark))."""
    s0 = f"CAST(FLOOR(SQRT(CAST({n} AS DOUBLE))) AS BIGINT)"
    sq = lambda t: f"CAST({t} AS {wide}) * ({t})"
    return (
        f"(CASE WHEN {sq(f'({s0} + 1)')} <= {n} THEN {s0} + 1"
        f" WHEN {sq(f'({s0})')} > {n} THEN {s0} - 1 ELSE {s0} END)"
    )


_MDE_DUCK_VARQ = (
    "(n * sxx - CAST(sx AS HUGEINT) * sx) // (CAST(n AS HUGEINT) * (n - 1))"
)
_MDE_SPARK_VARQ = (
    "(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx)"
    " div (CAST(n AS DECIMAL(38,0)) * (n - 1))"
)


@query(
    "q_power_mde",
    oracle=f"""
    WITH m AS (
      SELECT c.c_mktsegment AS seg,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS sx,
             SUM(CAST(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                      AS HUGEINT)
                 * CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS sxx
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY seg
    ),
    v AS (
      SELECT seg, n, sx, {_MDE_DUCK_VARQ} AS varq FROM m
    ),
    s AS (
      SELECT seg, n, sx, varq,
             {_mde_isqrt("((2000000 * CAST(varq AS HUGEINT)) // n)", "HUGEINT")} AS root
      FROM v
    )
    SELECT seg, n, CAST(varq AS BIGINT) AS var_cents2,
           CAST((280158 * root) // 100000 AS BIGINT) AS mde_millicents,
           CAST((1000 * ((280158 * root) // 100000)) // (sx // n) AS BIGINT)
             AS rel_mde_ppm
    FROM s
    """,
    tags=("stats", "power-analysis", "mde", "ab-test"),
)
def q_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-experiment power analysis per market segment: the minimal
    detectable effect on order value at 80% power / 5% two-sided
    alpha with a 50/50 split, MDE = 2.80158 * sqrt(2 * var / n). The
    sample variance comes from exact cent moments with one truncating
    wide-integer division; sqrt goes through the exact-isqrt CASE
    correction (milli-cent precision via a 1e6 pre-scale, keeping every
    intermediate and the Spark `div` quotient inside int64), and the
    2.80158 factor is the rational 280158/100000 — so mde_millicents
    and the relative-to-mean rel_mde_ppm are bit-identical across
    engines. This is the query an experimentation platform runs
    BEFORE assigning traffic: a segment whose relative MDE exceeds
    the effect you hope to ship needs more units or CUPED
    (q_cuped_adjustment says how much variance that buys back).

    Scale: one broadcast join + one 5-group moment aggregate; the
    power algebra is scalar math on 5 rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    m = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sx"),
            F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents")).alias(
                "sxx"
            ),
        )
    )
    v = m.select("seg", "n", "sx", F.expr(_MDE_SPARK_VARQ).alias("varq"))
    s = v.select(
        "seg",
        "n",
        "sx",
        "varq",
        F.expr(
            _mde_isqrt("((2000000 * CAST(varq AS DECIMAL(38,0))) div n)", "DECIMAL(38,0)")
        ).alias("root"),
    )
    return s.select(
        "seg",
        "n",
        F.expr("CAST(varq AS BIGINT)").alias("var_cents2"),
        F.expr("CAST((280158 * root) div 100000 AS BIGINT)").alias(
            "mde_millicents"
        ),
        F.expr(
            "CAST((1000 * ((280158 * root) div 100000)) div (sx div n)"
            " AS BIGINT)"
        ).alias("rel_mde_ppm"),
    )


def _welch_t2_micro(wide: str, div: str) -> str:
    """Fully rationalized Welch t^2 in micro units over cumulative
    moment columns n1/s1/ss1/n2/s2/ss2 (q_welch_ttest's expression,
    parameterized by the dialect's wide type and truncating integer
    division so it can run per interim-analysis row)."""
    w = lambda x: f"CAST({x} AS {wide})"
    return (
        f"CAST((1000000 * ({w('s1')} * n2 - {w('s2')} * n1)"
        f" * ({w('s1')} * n2 - {w('s2')} * n1))"
        f" {div} ({w('n1')} * n1 * n2 * n2 *"
        f" ((n1 * ss1 - {w('s1')} * s1) {div} ({w('n1')} * n1 * (n1 - 1))"
        f" + (n2 * ss2 - {w('s2')} * s2) {div} ({w('n2')} * n2 * (n2 - 1))))"
        f" AS BIGINT)"
    )


# Pocock-style constant interim boundary: z = 2.9 -> z^2 = 8.41.
_SEQ_BOUNDARY_MICRO = 8_410_000


@query(
    "q_sequential_monitoring",
    oracle=f"""
    WITH labeled AS (
      SELECT CASE WHEN r.r_name = 'EUROPE' THEN 'treat'
                  ELSE 'control' END AS grp,
             (EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) * 12
              + EXTRACT(MONTH FROM CAST(o.o_orderdate AS DATE)) - 1)
               AS mkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    magg AS (
      SELECT grp, mkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s,
             SUM(CAST(cents AS HUGEINT) * cents) AS ss
      FROM labeled GROUP BY grp, mkey
    ),
    cum AS MATERIALIZED (
      SELECT grp, mkey,
             CAST(SUM(n) OVER (PARTITION BY grp ORDER BY mkey)
                  AS BIGINT) AS cn,
             CAST(SUM(s) OVER (PARTITION BY grp ORDER BY mkey)
                  AS BIGINT) AS cs,
             SUM(ss) OVER (PARTITION BY grp ORDER BY mkey) AS css
      FROM magg
    ),
    paired AS (
      SELECT a.mkey AS month_key,
             a.cn AS n1, a.cs AS s1, a.css AS ss1,
             b.cn AS n2, b.cs AS s2, b.css AS ss2
      FROM cum a JOIN cum b
        ON b.mkey = a.mkey AND a.grp = 'treat' AND b.grp = 'control'
      WHERE a.cn >= 2 AND b.cn >= 2
        AND a.cn * a.css > CAST(a.cs AS HUGEINT) * a.cs
        AND b.cn * b.css > CAST(b.cs AS HUGEINT) * b.cs
    )
    SELECT month_key, n1, n2,
           {_welch_t2_micro("HUGEINT", "//")} AS t2_micro,
           ({_welch_t2_micro("HUGEINT", "//")}
              > {_SEQ_BOUNDARY_MICRO}) AS crossed
    FROM paired
    """,
    tags=("stats", "sequential-testing", "interim-analysis", "ab-test"),
)
def q_sequential_monitoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring — Welch's t^2 for EUROPE vs
    rest re-evaluated at EVERY monthly interim analysis over
    cumulative moments, against a Pocock-style constant boundary
    (z = 2.9, so t^2 > 8.41): the peeking problem made explicit. The
    statistic reuses q_welch_ttest's fully rationalized wide-integer
    expression row-by-row, so the whole monitoring trajectory is
    bit-identical across engines; months where either arm lacks 2
    orders or has zero variance are excluded exactly.

    Scale: one broadcast star join, one (group, month) moment agg,
    cumulative sums under a 2-partition window over ~84 month rows,
    then scalar algebra per interim row. Raw data is touched once
    regardless of how many interim looks the trajectory has."""
    labeled = _europe_arms(
        spark,
        sf_dir,
        F.expr(
            "(year(CAST(o_orderdate AS DATE)) * 12"
            " + month(CAST(o_orderdate AS DATE)) - 1)"
        ).alias("mkey"),
    )
    magg = labeled.groupBy("grp", "mkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents")).alias("ss"),
    )
    cum = magg.select(
        "grp",
        "mkey",
        F.expr(
            "CAST(SUM(n) OVER (PARTITION BY grp ORDER BY mkey) AS BIGINT)"
        ).alias("cn"),
        F.expr(
            "CAST(SUM(s) OVER (PARTITION BY grp ORDER BY mkey) AS BIGINT)"
        ).alias("cs"),
        F.expr("SUM(ss) OVER (PARTITION BY grp ORDER BY mkey)").alias(
            "css"
        ),
    ).localCheckpoint()
    a = cum.filter(F.col("grp") == "treat").select(
        F.col("mkey").alias("month_key"),
        F.col("cn").alias("n1"),
        F.col("cs").alias("s1"),
        F.col("css").alias("ss1"),
    )
    b = cum.filter(F.col("grp") == "control").select(
        F.col("mkey").alias("month_key"),
        F.col("cn").alias("n2"),
        F.col("cs").alias("s2"),
        F.col("css").alias("ss2"),
    )
    t2 = _welch_t2_micro("DECIMAL(38,0)", "div")
    return (
        a.join(b, "month_key")
        .filter(
            F.expr(
                "n1 >= 2 AND n2 >= 2"
                " AND n1 * ss1 > CAST(s1 AS DECIMAL(38,0)) * s1"
                " AND n2 * ss2 > CAST(s2 AS DECIMAL(38,0)) * s2"
            )
        )
        .select(
            "month_key",
            "n1",
            "n2",
            F.expr(t2).alias("t2_micro"),
            F.expr(f"{t2} > {_SEQ_BOUNDARY_MICRO}").alias("crossed"),
        )
    )


@query(
    "q_neyman_allocation",
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                      * CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s2
      FROM events GROUP BY event_type
    ),
    w AS (
      SELECT event_type, n,
             CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS rad
      FROM m
    ),
    wt AS (
      SELECT event_type, n,
             CAST({_isqrt_wide_sql("rad", "HUGEINT")} AS BIGINT) AS weight
      FROM w
    ),
    g AS (
      SELECT *, CAST(SUM(weight) OVER () AS BIGINT) AS w_total FROM wt
    ),
    q AS (
      SELECT event_type, n, weight,
             CAST((10000 * weight) // w_total AS BIGINT) AS floor_seats,
             CAST((10000 * weight) % w_total AS BIGINT) AS remainder
      FROM g
    ),
    r AS (
      SELECT *,
             CAST(10000 - SUM(floor_seats) OVER () AS BIGINT) AS leftover,
             ROW_NUMBER() OVER (ORDER BY remainder DESC, event_type) AS rr
      FROM q
    )
    SELECT event_type, n, weight, floor_seats,
           CAST(floor_seats + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS seats
    FROM r
    """,
    tags=("stats", "sampling-design", "neyman", "stratification"),
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation: a budget of 10,000
    rows is split across event-type strata proportionally to
    N_h * S_h (stratum size x standard deviation) — the allocation
    that minimizes the stratified estimator's variance (Neyman 1934);
    uniform-rate sampling over-spends on big low-variance strata. With
    every stratum fully observed, N_h * S_h = sqrt(n_h * sum(y^2) -
    sum(y)^2) exactly, so the weight is ONE exact wide-integer sqrt of
    the raw moments (the q_rate_wilson_ci isqrt; radicand in
    HUGEINT/DECIMAL(38,0)); the integer seats then come from the same
    largest-remainder rounding as q_hamilton_apportionment, so they
    sum exactly to the budget.

    Scale: one moment aggregate to |strata| rows (map-side partials),
    two windows over those rows."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("s1"),
        F.sum(
            F.expr(
                "CAST(ROUND(value * 100) AS BIGINT)"
                " * CAST(ROUND(value * 100) AS BIGINT)"
            )
        ).alias("s2"),
    )
    w = m.select(
        "event_type",
        "n",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"
        ).alias("rad"),
    )
    wt = w.select(
        "event_type",
        "n",
        F.expr(
            f"CAST({_isqrt_wide_sql('rad', 'DECIMAL(38,0)')} AS BIGINT)"
        ).alias("weight"),
    )
    g = wt.select(
        "*", F.expr("CAST(SUM(weight) OVER () AS BIGINT)").alias("w_total")
    )
    q = g.select(
        "event_type",
        "n",
        "weight",
        F.expr("CAST((10000 * weight) div w_total AS BIGINT)").alias(
            "floor_seats"
        ),
        F.expr("CAST((10000 * weight) % w_total AS BIGINT)").alias(
            "remainder"
        ),
    )
    r = q.select(
        "*",
        F.expr("CAST(10000 - SUM(floor_seats) OVER () AS BIGINT)").alias(
            "leftover"
        ),
        F.row_number()
        .over(Window.orderBy(F.desc("remainder"), F.asc("event_type")))
        .alias("rr"),
    )
    return r.select(
        "event_type",
        "n",
        "weight",
        "floor_seats",
        F.expr(
            "CAST(floor_seats + CASE WHEN rr <= leftover THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("seats"),
    )


# ---------------------------------------------------------------------
# q_cramers_v (round 7)
# ---------------------------------------------------------------------


@query(
    "q_cramers_v",
    oracle="""
    WITH o AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
      FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS row_tot FROM o GROUP BY lang),
    ct AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS col_tot FROM o GROUP BY source),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o),
    cells AS (
      SELECT CAST(ROUND(1000000 * (CAST(o.obs AS DOUBLE)
                    - (CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE))
                      / CAST(n.n AS DOUBLE))
                  * (CAST(o.obs AS DOUBLE)
                    - (CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE))
                      / CAST(n.n AS DOUBLE))
                  / ((CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE))
                      / CAST(n.n AS DOUBLE))) AS BIGINT) AS contrib_micro
      FROM o JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n
    ),
    agg AS (
      SELECT CAST((SELECT n FROM n) AS BIGINT) AS n,
             CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS r,
             CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS c,
             CAST(SUM(contrib_micro) AS BIGINT) AS chi2_micro
      FROM cells
    )
    SELECT n, r, c, chi2_micro,
           CAST(ROUND(1000000.0 * sqrt(
               (CAST(chi2_micro AS DOUBLE) / 1000000.0)
               / (CAST(n AS DOUBLE) * CAST(LEAST(r, c) - 1 AS DOUBLE))))
             AS BIGINT) AS cramers_v_micro
    FROM agg
    """,
    tags=("stats", "cramers-v", "effect-size", "association"),
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the lang × source association —
    V = sqrt(χ² / (N·(min(r,c)−1))) in [0,1]: the magnitude readout
    that q_chi_square's significance test deliberately omits (at
    corpus scale EVERYTHING is significant; what matters is whether
    the association is V≈0.05 trivia or V≈0.5 structure before anyone
    stratifies on it).

    Exactness: reuses q_chi_square's cell treatment verbatim (each
    (o−e)²/e one shared-expression double quantized to micro units,
    exact integer sum); V is then one sqrt over an exactly-equal
    operand, re-quantized to micro units.

    Scale: one contingency aggregate over the scan (map-side
    partials); everything after runs on |langs|×|sources| rows and
    1-row stitches."""
    o = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    rt = o.groupBy("lang").agg(F.sum("obs").alias("row_tot"))
    ct = o.groupBy("source").agg(F.sum("obs").alias("col_tot"))
    n = o.agg(F.sum("obs").alias("n"))
    e = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n").cast("double")
    )
    cells = (
        o.join(rt, "lang")
        .join(ct, "source")
        .crossJoin(F.broadcast(n))
        .select(
            F.round(
                F.lit(1_000_000)
                * (F.col("obs").cast("double") - e)
                * (F.col("obs").cast("double") - e)
                / e
            )
            .cast("long")
            .alias("contrib_micro")
        )
    )
    r_c = rt.agg(F.count(F.lit(1)).alias("r")).crossJoin(
        F.broadcast(ct.agg(F.count(F.lit(1)).alias("c")))
    )
    agg = (
        cells.agg(F.sum("contrib_micro").alias("chi2_micro"))
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(r_c))
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("r"),
        F.col("c").cast("long").alias("c"),
        "chi2_micro",
        F.round(
            F.lit(1_000_000.0)
            * F.sqrt(
                (F.col("chi2_micro").cast("double") / F.lit(1_000_000.0))
                / (
                    F.col("n").cast("double")
                    * (F.least("r", "c") - 1).cast("double")
                )
            )
        )
        .cast("long")
        .alias("cramers_v_micro"),
    )


# ---------------------------------------------------------------------
# q_cliffs_delta (round 8)
# ---------------------------------------------------------------------


@query(
    "q_cliffs_delta",
    oracle="""
    WITH pick AS (
      SELECT MIN(source) AS src_a, MAX(source) AS src_b FROM (
        SELECT DISTINCT source FROM documents ORDER BY source LIMIT 2
      )
    ),
    hist AS (
      SELECT n_chars AS x,
             CAST(count_if(source = (SELECT src_a FROM pick)) AS BIGINT)
               AS cnt_a,
             CAST(count_if(source = (SELECT src_b FROM pick)) AS BIGINT)
               AS cnt_b
      FROM documents
      WHERE source IN (SELECT src_a FROM pick UNION ALL
                       SELECT src_b FROM pick)
      GROUP BY 1
    ),
    cum AS (
      SELECT x, cnt_a, cnt_b,
             CAST(COALESCE(SUM(cnt_b) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumb_lt
      FROM hist
    ),
    tot AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
             CAST(SUM(cnt_b) AS BIGINT) AS n_b
      FROM hist
    ),
    pairs AS (
      SELECT CAST(SUM(cnt_a * cumb_lt) AS BIGINT) AS gt_pairs,
             CAST(SUM(cnt_a * ((SELECT n_b FROM tot) - cumb_lt - cnt_b))
               AS BIGINT) AS lt_pairs,
             CAST(SUM(cnt_a * cnt_b) AS BIGINT) AS tie_pairs
      FROM cum
    )
    SELECT p.src_a, p.src_b, t.n_a, t.n_b,
           r.gt_pairs, r.lt_pairs, r.tie_pairs,
           CAST(r.gt_pairs - r.lt_pairs AS DOUBLE)
             / CAST(t.n_a * t.n_b AS DOUBLE) AS cliffs_delta,
           CASE
             WHEN abs(CAST(r.gt_pairs - r.lt_pairs AS DOUBLE)
                      / CAST(t.n_a * t.n_b AS DOUBLE)) < 0.147
               THEN 'negligible'
             WHEN abs(CAST(r.gt_pairs - r.lt_pairs AS DOUBLE)
                      / CAST(t.n_a * t.n_b AS DOUBLE)) < 0.33
               THEN 'small'
             WHEN abs(CAST(r.gt_pairs - r.lt_pairs AS DOUBLE)
                      / CAST(t.n_a * t.n_b AS DOUBLE)) < 0.474
               THEN 'medium'
             ELSE 'large'
           END AS magnitude
    FROM pick p CROSS JOIN tot t CROSS JOIN pairs r
    """,
    tags=("stats", "effect-size", "nonparametric", "cliffs-delta"),
)
def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size between the two
    (lexicographically first) document sources on length:
    delta = (#{x_a > x_b} - #{x_a < x_b}) / (n_a * n_b) — the
    companion NUMBER to q_mood_median_test / q_kruskal_wallis's
    yes-no answers ("the sources differ — by how much?"), robust to
    any monotone transform of length. Romano et al. magnitude labels
    (0.147 / 0.33 / 0.474) as an interpretive column.

    Exactness: pair counts come from the length HISTOGRAM — gt pairs
    = sum over values of cnt_a(v) * cumB(<v) — all exact BIGINTs;
    delta is ONE double division of exactly-representable integers
    (IEEE-identical cross-engine), and the magnitude thresholds
    compare that same double to identical literals.

    Scale: one scan -> value-domain histogram; the cumulative window
    runs over |distinct lengths| rows (value-domain, not data-sized —
    the q_auc_mann_whitney posture), everything after is 1-row
    stitches. Never materializes the n_a * n_b pair space."""
    d = load_table(spark, sf_dir, "documents")
    pick = (
        d.select("source")
        .distinct()
        .orderBy("source")
        .limit(2)
        .agg(F.min("source").alias("src_a"), F.max("source").alias("src_b"))
    )
    base = d.crossJoin(F.broadcast(pick)).filter(
        (F.col("source") == F.col("src_a")) | (F.col("source") == F.col("src_b"))
    )
    hist = base.groupBy(F.col("n_chars").alias("x")).agg(
        F.count_if(F.col("source") == F.col("src_a")).alias("cnt_a"),
        F.count_if(F.col("source") == F.col("src_b")).alias("cnt_b"),
    )
    w_cum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "x",
        "cnt_a",
        "cnt_b",
        F.coalesce(F.sum("cnt_b").over(w_cum), F.lit(0)).alias("cumb_lt"),
    )
    tot = hist.agg(
        F.sum("cnt_a").alias("n_a"), F.sum("cnt_b").alias("n_b")
    )
    pairs = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("cnt_a") * F.col("cumb_lt")).alias("gt_pairs"),
        F.sum(
            F.col("cnt_a") * (F.col("n_b") - F.col("cumb_lt") - F.col("cnt_b"))
        ).alias("lt_pairs"),
        F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("tie_pairs"),
    )
    delta = (F.col("gt_pairs") - F.col("lt_pairs")).cast("double") / (
        F.col("n_a") * F.col("n_b")
    ).cast("double")
    return (
        pick.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(pairs))
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "gt_pairs",
            "lt_pairs",
            "tie_pairs",
            delta.alias("cliffs_delta"),
            F.when(F.abs(delta) < 0.147, "negligible")
            .when(F.abs(delta) < 0.33, "small")
            .when(F.abs(delta) < 0.474, "medium")
            .otherwise("large")
            .alias("magnitude"),
        )
    )


# ---------------------------------------------------------------------
# q_kendall_w (round 8)
# ---------------------------------------------------------------------


@query(
    "q_kendall_w",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS judge,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS item,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ),
    grid AS (
      SELECT j.judge, i.item, CAST(COALESCE(c.cents, 0) AS BIGINT) AS cents
      FROM (SELECT DISTINCT judge FROM cells) j
      CROSS JOIN (SELECT DISTINCT item FROM cells) i
      LEFT JOIN cells c ON c.judge = j.judge AND c.item = i.item
    ),
    ranked AS (
      SELECT judge, item,
             CAST(ROW_NUMBER() OVER (PARTITION BY judge
                    ORDER BY cents DESC, item) AS BIGINT) AS rk
      FROM grid
    ),
    dims AS (
      SELECT CAST(COUNT(DISTINCT judge) AS BIGINT) AS k,
             CAST(COUNT(DISTINCT item) AS BIGINT) AS n
      FROM grid
    ),
    sums AS (
      SELECT item, CAST(SUM(rk) AS BIGINT) AS r_item FROM ranked GROUP BY 1
    ),
    s AS (
      SELECT CAST(SUM((2 * r.r_item - d.k * (d.n + 1))
                      * (2 * r.r_item - d.k * (d.n + 1))) AS BIGINT) AS s4
      FROM sums r CROSS JOIN dims d
    )
    SELECT d.k, d.n, s.s4,
           CAST(3 * s.s4 AS DOUBLE)
             / CAST(d.k * d.k * (d.n * d.n * d.n - d.n) AS DOUBLE) AS w
    FROM dims d CROSS JOIN s
    """,
    tags=("stats", "concordance", "kendall-w", "rank"),
)
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W: do the five order
    PRIORITY classes ("judges") agree on the revenue ranking of
    calendar months ("items")? W = 1 means every priority class ranks
    months identically (seasonality is priority-independent); W = 0
    means no agreement — the multi-rater generalization of Spearman
    that q_friedman_test's chi-square tests for significance
    (chi2 = k(n-1)W).

    Exactness: per-(judge, item) exact revenue cents; ranks are fully
    tie-broken ROW_NUMBER per judge (cents ties broken by month) over
    the completed judge x item grid (missing cells rank as 0 revenue);
    the doubled deviation 2R_i - k(n+1) keeps S4 = sum of squared
    doubled deviations an exact BIGINT; W = 3*S4 / (k^2(n^3-n)) is ONE
    double division of exactly-representable integers.

    Scale: one scan -> (judge, month) aggregate (calendar x 5 cells);
    ranking windows are JUDGE-KEYED (partition-parallel, calendar-
    bounded frames); everything after runs on the tiny grid."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("judge"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("item"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    judges = cells.select("judge").distinct()
    items = cells.select("item").distinct()
    grid = (
        items.crossJoin(F.broadcast(judges))
        .join(cells, ["judge", "item"], "left")
        .select(
            "judge", "item", F.coalesce("cents", F.lit(0)).alias("cents")
        )
    )
    w_rank = Window.partitionBy("judge").orderBy(
        F.col("cents").desc(), F.col("item")
    )
    ranked = grid.select(
        "judge", "item", F.row_number().over(w_rank).cast("long").alias("rk")
    )
    dims = grid.agg(
        F.countDistinct("judge").alias("k"),
        F.countDistinct("item").alias("n"),
    )
    sums = ranked.groupBy("item").agg(F.sum("rk").alias("r_item"))
    s = (
        sums.crossJoin(F.broadcast(dims))
        .select(
            (2 * F.col("r_item") - F.col("k") * (F.col("n") + 1)).alias("d2")
        )
        .agg(F.sum(F.col("d2") * F.col("d2")).alias("s4"))
    )
    return dims.crossJoin(F.broadcast(s)).select(
        "k",
        "n",
        "s4",
        (
            (3 * F.col("s4")).cast("double")
            / (
                F.col("k") * F.col("k")
                * (F.col("n") * F.col("n") * F.col("n") - F.col("n"))
            ).cast("double")
        ).alias("w"),
    )


# ---------------------------------------------------------------------
# q_tost_equivalence (round 8)
# ---------------------------------------------------------------------

# z_{0.95}^2 in micro units: TOST at alpha = 0.05 rejects each one-sided
# null when |t| > 1.645 (large-sample normal approximation; both group
# sizes here are in the thousands, so the t quantile is z to 4 digits).
_TOST_Z2_MICRO = 2_706_025


@query(
    "q_tost_equivalence",
    oracle=f"""
    WITH labeled AS (
      SELECT CASE WHEN r.r_name = 'EUROPE' THEN 'treat'
                  ELSE 'control' END AS grp,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    m AS MATERIALIZED (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s,
             SUM(CAST(cents AS HUGEINT) * cents) AS ss
      FROM labeled GROUP BY grp
    ),
    w AS (
      SELECT a.n AS n1, a.s AS s1, a.ss AS ss1,
             b.n AS n2, b.s AS s2, b.ss AS ss2
      FROM m a JOIN m b ON a.grp = 'treat' AND b.grp = 'control'
    ),
    terms AS (
      SELECT n1, n2,
             -- mean gap +/- margin, truncated to whole cents:
             -- diff = s1/n1 - s2/n2, margin = (s2/n2)/20 (5% of control)
             (20 * (CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1)
              + CAST(s2 AS HUGEINT) * n1)
               // (20 * CAST(n1 AS HUGEINT) * n2) AS g_lo,
             (20 * (CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1)
              - CAST(s2 AS HUGEINT) * n1)
               // (20 * CAST(n1 AS HUGEINT) * n2) AS g_hi,
             CAST(s1 // n1 - s2 // n2 AS BIGINT) AS mean_diff_cents,
             CAST(s2 // (20 * n2) AS BIGINT) AS margin_cents,
             -- Welch variance of the mean difference, cents^2
             ((n1 * ss1 - CAST(s1 AS HUGEINT) * s1)
                // (CAST(n1 AS HUGEINT) * n1 * (n1 - 1))
              + (n2 * ss2 - CAST(s2 AS HUGEINT) * s2)
                // (CAST(n2 AS HUGEINT) * n2 * (n2 - 1))) AS v
      FROM w
    )
    SELECT n1, n2, mean_diff_cents, margin_cents,
           CAST((1000000 * g_lo * g_lo) // v AS BIGINT) AS t_lo_sq_micro,
           CAST((1000000 * g_hi * g_hi) // v AS BIGINT) AS t_hi_sq_micro,
           (g_lo > 0 AND g_hi < 0
            AND (1000000 * g_lo * g_lo) // v > {_TOST_Z2_MICRO}
            AND (1000000 * g_hi * g_hi) // v > {_TOST_Z2_MICRO})
             AS equivalent
    FROM terms
    """,
    tags=("stats", "hypothesis-test", "tost", "equivalence", "ab-test"),
)
def q_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987) for order value, EUROPE
    vs rest, margin = 5% of the control mean: two one-sided Welch
    tests, H0_lo: diff <= -margin and H0_hi: diff >= +margin; the
    groups are EQUIVALENT only when BOTH reject (diff + margin
    significantly > 0 AND diff - margin significantly < 0). The
    inferential complement of q_welch_ttest — "is there a difference"
    vs "is the difference provably inside the margin" — the readout an
    A/B platform needs for non-inferiority launches.

    Exactness: the mean gap +/- margin is reduced over the common
    denominator 20*n1*n2 and truncated ONCE to whole cents (g_lo,
    g_hi); the Welch variance-of-the-difference reuses q_welch_ttest's
    rationalized wide-integer moments; each squared t is one more
    truncating micro division. The z^2 threshold is a fixed constant.
    Every column is exact integer/boolean arithmetic on DECIMAL(38,0)
    moments — bit-identical across engines.

    Scale: one broadcast star join, one 2-group moment aggregate
    (map-side combinable), scalar arithmetic on 2 rows."""
    w = _arm_moments(_europe_arms(spark, sf_dir))
    terms = w.select(
        "n1",
        "n2",
        F.expr(
            "(20 * (CAST(s1 AS DECIMAL(38,0)) * n2"
            " - CAST(s2 AS DECIMAL(38,0)) * n1)"
            " + CAST(s2 AS DECIMAL(38,0)) * n1)"
            " div (20 * CAST(n1 AS DECIMAL(38,0)) * n2)"
        ).alias("g_lo"),
        F.expr(
            "(20 * (CAST(s1 AS DECIMAL(38,0)) * n2"
            " - CAST(s2 AS DECIMAL(38,0)) * n1)"
            " - CAST(s2 AS DECIMAL(38,0)) * n1)"
            " div (20 * CAST(n1 AS DECIMAL(38,0)) * n2)"
        ).alias("g_hi"),
        F.expr("CAST(s1 div n1 - s2 div n2 AS BIGINT)").alias(
            "mean_diff_cents"
        ),
        F.expr("CAST(s2 div (20 * n2) AS BIGINT)").alias("margin_cents"),
        F.expr(
            "((n1 * ss1 - CAST(s1 AS DECIMAL(38,0)) * s1)"
            " div (CAST(n1 AS DECIMAL(38,0)) * n1 * (n1 - 1))"
            " + (n2 * ss2 - CAST(s2 AS DECIMAL(38,0)) * s2)"
            " div (CAST(n2 AS DECIMAL(38,0)) * n2 * (n2 - 1)))"
        ).alias("v"),
    )
    return terms.select(
        "n1",
        "n2",
        "mean_diff_cents",
        "margin_cents",
        F.expr("CAST((1000000 * g_lo * g_lo) div v AS BIGINT)").alias(
            "t_lo_sq_micro"
        ),
        F.expr("CAST((1000000 * g_hi * g_hi) div v AS BIGINT)").alias(
            "t_hi_sq_micro"
        ),
        F.expr(
            "g_lo > 0 AND g_hi < 0"
            f" AND (1000000 * g_lo * g_lo) div v > {_TOST_Z2_MICRO}"
            f" AND (1000000 * g_hi * g_hi) div v > {_TOST_Z2_MICRO}"
        ).alias("equivalent"),
    )


# ---------------------------------------------------------------------
# q_theil_decomposition (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_theil_decomposition",
    oracle="""
    WITH cust AS (
      SELECT o_custkey AS ck,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS HUGEINT) AS x
      FROM orders GROUP BY 1
    ),
    seg AS (
      SELECT c.c_mktsegment AS g, cust.x
      FROM cust JOIN customer c ON c.c_custkey = cust.ck
    ),
    tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nn, SUM(x) AS xx FROM seg),
    gt AS (
      SELECT g, CAST(COUNT(*) AS HUGEINT) AS ng, SUM(x) AS xg
      FROM seg GROUP BY g
    ),
    terms AS (
      SELECT seg.g, seg.x,
             CAST(ROUND(1000000 * ln(CAST(gt.ng * seg.x AS DOUBLE)
                                     / CAST(gt.xg AS DOUBLE)))
                  AS BIGINT) AS ln_within
      FROM seg JOIN gt USING (g)
    ),
    tw AS (
      SELECT g, CAST(SUM(x * ln_within) AS HUGEINT) AS num
      FROM terms GROUP BY g
    )
    SELECT gt.g AS segment, CAST(gt.ng AS BIGINT) AS n_customers,
           CAST(gt.xg AS BIGINT) AS cents,
           CAST(tw.num // gt.xg AS BIGINT) AS t_within_micro,
           CAST(ROUND(1000000 * ln(CAST(tot.nn * gt.xg AS DOUBLE)
                                   / CAST(gt.ng * tot.xx AS DOUBLE)))
                AS BIGINT) AS ln_between_micro,
           CAST((1000000 * gt.xg) // tot.xx AS BIGINT) AS share_ppm
    FROM gt, tot JOIN tw ON tw.g = gt.g
    """,
    tags=("stats", "theil", "inequality", "decomposition"),
)
def q_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of per-customer revenue, DECOMPOSED by
    market segment — the additively-decomposable index q_gini_revenue
    cannot give you: T = sum_g s_g * T_g(within) + sum_g s_g *
    ln(share_g / popshare_g)(between), so the report says how much
    revenue inequality lives INSIDE segments vs BETWEEN them. Each
    customer contributes one ln of the exact integer ratio
    n_g*x_i/X_g, ROUNDed once to micro-nats before the exact x-
    weighted sum (the q_kaplan_meier step treatment); the per-segment
    between term and revenue share are one ln / one division each.
    All ln arguments stay exactly double-representable through sf10
    (N*x ~ 1.5e12 at sf0.1 << 2^53).

    Scale: a customer-keyed aggregate, a broadcast customer-dim join,
    a |segments|-group reduction, a 1-row total stitch — the ln runs
    map-side per customer row, never collected."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cust = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.expr(
            "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))"
            " AS DECIMAL(38,0))"
        ).alias("x")
    )
    seg = cust.join(
        F.broadcast(c), F.col("ck") == F.col("c_custkey")
    ).select(F.col("c_mktsegment").alias("g"), "x")
    tot = seg.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("nn"),
        F.expr("SUM(x)").alias("xx"),
    )
    gt = seg.groupBy("g").agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("ng"),
        F.expr("SUM(x)").alias("xg"),
    )
    terms = seg.join(F.broadcast(gt), "g").select(
        "g",
        "x",
        F.expr(
            "CAST(ROUND(1000000 * ln(CAST(ng * x AS DOUBLE)"
            " / CAST(xg AS DOUBLE))) AS BIGINT)"
        ).alias("ln_within"),
    )
    tw = terms.groupBy("g").agg(
        F.expr("CAST(SUM(x * ln_within) AS DECIMAL(38,0))").alias("num")
    )
    return (
        gt.join(tw, "g")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("g").alias("segment"),
            F.col("ng").cast("long").alias("n_customers"),
            F.col("xg").cast("long").alias("cents"),
            F.expr("CAST(num div xg AS BIGINT)").alias("t_within_micro"),
            F.expr(
                "CAST(ROUND(1000000 * ln(CAST(nn * xg AS DOUBLE)"
                " / CAST(ng * xx AS DOUBLE))) AS BIGINT)"
            ).alias("ln_between_micro"),
            F.expr("CAST((1000000 * xg) div xx AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------
# q_cooks_distance (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_cooks_distance",
    oracle="""
    WITH daily AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                  AS HUGEINT) AS x,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS HUGEINT) AS y
      FROM orders GROUP BY o_orderdate
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      FROM daily
    ),
    c AS (
      SELECT n, sx, sy, n*sxx - sx*sx AS cxx, n*sxy - sx*sy AS cxy,
             n*syy - sy*sy AS cyy
      FROM m
    ),
    q AS (
      SELECT n, sx, sy, cxx, cxy,
             (cyy * cxx - cxy * cxy) // (n * cxx * 1000000) AS sseq
      FROM c
    ),
    d AS (
      SELECT daily.x, daily.y,
             (q.n*q.cxx*daily.y - q.n*q.cxy*daily.x
              - (q.cxx*q.sy - q.cxy*q.sx)) // (q.n*q.cxx) AS eq,
             (1000000 * (q.cxx + (q.n*daily.x - q.sx)
                                 * (q.n*daily.x - q.sx)))
               // (q.n*q.cxx) AS hq,
             q.n, q.sseq
      FROM daily, q
    )
    SELECT CAST(x AS BIGINT) AS day_ord, CAST(y AS BIGINT) AS cents,
           CAST((1000 * eq*eq * hq * (n-2))
                // (2 * sseq * (1000000 - hq) * (1000000 - hq))
                AS BIGINT) AS d_milli
    FROM d ORDER BY d_milli DESC, day_ord LIMIT 3
    """,
    tags=("stats", "cooks-distance", "regression", "influence"),
)
def q_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance over the daily-revenue-on-time OLS fit: the
    three most INFLUENTIAL days — large residual AND leveraged
    position — that would move the trend line most if deleted (the
    influence companion to q_mad_outliers' pure-residual flags; the
    4/n rule of thumb is d_milli > ~1.7 at this day count). The
    algebra stays rational end-to-end: residuals deflated once to
    integer cents (eq = e-hat div n*Cxx), leverage once to ppm units
    (hq = 1e6*H div n*Cxx with H = Cxx + (n*x - Sx)^2 — ppm keeps
    the assembled numerator ~1e32, clear of the DECIMAL(38) edge), SSE once to
    cents^2 — then D = eq^2*h*(n-2)/(2*s^2*(1-h)^2) is ONE truncating
    division of exact integers.

    Scale: calendar-bounded daily collapse, one 1-row moment frame
    broadcast back over the daily rows (map-side per-day scoring),
    TakeOrdered top-3."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy("o_orderdate").agg(
        F.expr(
            "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))"
            " AS DECIMAL(38,0))"
        ).alias("y")
    ).select(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("decimal(38,0)")
        .alias("x"),
        "y",
    )
    m = daily.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("SUM(x)").alias("sx"),
        F.expr("SUM(y)").alias("sy"),
        F.expr("SUM(x * x)").alias("sxx"),
        F.expr("SUM(x * y)").alias("sxy"),
        F.expr("SUM(y * y)").alias("syy"),
    )
    q = m.select(
        "n",
        "sx",
        "sy",
        F.expr("n*sxx - sx*sx").alias("cxx"),
        F.expr("n*sxy - sx*sy").alias("cxy"),
        F.expr(
            "CAST(((n*syy - sy*sy) * (n*sxx - sx*sx)"
            " - (n*sxy - sx*sy) * (n*sxy - sx*sy))"
            " div (n * (n*sxx - sx*sx) * 1000000) AS DECIMAL(38,0))"
        ).alias("sseq"),
    )
    d = daily.crossJoin(F.broadcast(q)).select(
        "x",
        "y",
        F.expr(
            "CAST((n*cxx*y - n*cxy*x - (cxx*sy - cxy*sx))"
            " div (n*cxx) AS DECIMAL(38,0))"
        ).alias("eq"),
        F.expr(
            "CAST((1000000 * (cxx + (n*x - sx) * (n*x - sx)))"
            " div (n*cxx) AS DECIMAL(38,0))"
        ).alias("hq"),
        "n",
        "sseq",
    )
    return (
        d.select(
            F.col("x").cast("long").alias("day_ord"),
            F.col("y").cast("long").alias("cents"),
            F.expr(
                "CAST((1000 * eq*eq * hq * (n-2))"
                " div (2 * sseq * (1000000 - hq)"
                " * (1000000 - hq)) AS BIGINT)"
            ).alias("d_milli"),
        )
        .orderBy(F.desc("d_milli"), "day_ord")
        .limit(3)
    )


# ---------------------------------------------------------------------
# q_cramer_von_mises (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_cramer_von_mises",
    oracle="""
    WITH pts AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
             CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END AS in_a,
             CASE WHEN year(o_orderdate) = 1998 THEN 1 ELSE 0 END AS in_b
      FROM orders WHERE year(o_orderdate) IN (1997, 1998)
    ),
    tot AS (
      SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
             CAST(SUM(in_b) AS BIGINT) AS n_b
      FROM pts
    ),
    grid AS (
      SELECT x, CAST(SUM(in_a) AS BIGINT) AS da,
             CAST(SUM(in_b) AS BIGINT) AS db,
             CAST(SUM(SUM(in_a)) OVER (ORDER BY x) AS BIGINT) AS c_a,
             CAST(SUM(SUM(in_b)) OVER (ORDER BY x) AS BIGINT) AS c_b
      FROM pts GROUP BY x
    ),
    s AS (
      SELECT CAST(SUM(CAST(da + db AS HUGEINT)
               * (c_a * tot.n_b - c_b * tot.n_a)
               * (c_a * tot.n_b - c_b * tot.n_a)) AS HUGEINT) AS num,
             MAX(tot.n_a) AS n_a, MAX(tot.n_b) AS n_b
      FROM grid CROSS JOIN tot
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST((1000000 * num)
                // (CAST(n_a AS HUGEINT) * n_b * (n_a + n_b)
                    * (n_a + n_b)) AS BIGINT) AS t_micro
    FROM s
    """,
    tags=("stats", "cramer-von-mises", "drift", "statistics"),
)
def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises statistic on the same 1997-vs-1998
    order-price split as q_ks_test — the L2 drift test that weighs
    the WHOLE CDF gap, where KS sees only the worst point (a
    distribution that drifts a little everywhere moves CvM long
    before KS): T = n_a n_b / N^2 * sum over pooled observations of
    (F_a - F_b)^2. The same cross-multiplication trick keeps it
    integral — each pooled point contributes (c_a*n_b - c_b*n_a)^2
    weighted by its tie count, and t_micro is ONE truncating division
    (observed 0.177 vs the exact null mean 1/6 — a built-in sanity
    anchor). Cumulative counts ride the two-phase range-partition
    prefix, as in KS.

    Scale: per-value aggregate -> two-phase cumulative -> 1-row
    weighted reduction; num <= N*(n_a*n_b)^2*1e6 ~ 1.5e32 at sf0.1,
    inside DECIMAL(38)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1997, 1998)
    )
    pts = o.select(
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("x"),
        F.when(F.year("o_orderdate") == 1997, 1).otherwise(0).alias("in_a"),
        F.when(F.year("o_orderdate") == 1998, 1).otherwise(0).alias("in_b"),
    )
    per_x = pts.groupBy("x").agg(
        F.sum("in_a").alias("da"), F.sum("in_b").alias("db")
    )
    grid = global_order_stats(
        per_x,
        [F.asc("x")],
        running_sums={"c_a": F.col("da"), "c_b": F.col("db")},
        rn_col=None,
    )
    tot = per_x.agg(
        F.sum("da").alias("n_a"), F.sum("db").alias("n_b")
    )
    s = grid.crossJoin(F.broadcast(tot)).agg(
        F.expr(
            "CAST(SUM(CAST(da + db AS DECIMAL(38,0))"
            " * (c_a * n_b - c_b * n_a)"
            " * (c_a * n_b - c_b * n_a)) AS DECIMAL(38,0))"
        ).alias("num"),
        F.expr("CAST(MAX(n_a) AS DECIMAL(38,0))").alias("na"),
        F.expr("CAST(MAX(n_b) AS DECIMAL(38,0))").alias("nb"),
    )
    return s.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.expr(
            "CAST((1000000 * num)"
            " div (na * nb * (na + nb) * (na + nb)) AS BIGINT)"
        ).alias("t_micro"),
    )


# ---------------------------------------------------------------------
# q_gumbel_maxima (round 8, session 3)
# ---------------------------------------------------------------------

# Integer nano literals (no libm at query time): Euler-Mascheroni
# gamma, 1/pi^2, and the Gumbel 99% quantile -ln(-ln 0.99).
_GAMMA_NANO = 577_215_665
_INV_PI2_NANO = 101_321_184
_GQ99_NANO = 4_600_149_227


@query(
    "q_gumbel_maxima",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('month', o_orderdate) AS mth, o_orderdate AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    blocks AS (
      SELECT mth, CAST(MAX(cents) AS HUGEINT) AS mx FROM daily GROUP BY mth
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(mx) AS s,
             SUM(mx * mx) AS ss
      FROM blocks
    ),
    fit AS (
      SELECT CAST(n AS BIGINT) AS n_blocks,
             CAST(s // n AS BIGINT) AS mean_cents,
             CAST((6 * ((n * ss - s * s) // (n * (n - 1)))
                   * {_INV_PI2_NANO}) // 1000000000 AS BIGINT) AS beta2
      FROM m
    ),
    f2 AS (
      SELECT n_blocks, mean_cents, beta2,
             CAST(FLOOR(SQRT(CAST(beta2 AS DOUBLE))) AS BIGINT)
               AS beta_cents
      FROM fit
    )
    SELECT n_blocks, mean_cents, beta_cents,
           CAST(mean_cents - ({_GAMMA_NANO} * beta_cents) // 1000000000
                AS BIGINT) AS mu_cents,
           CAST(mean_cents - ({_GAMMA_NANO} * beta_cents) // 1000000000
                + ({_GQ99_NANO} * beta_cents) // 1000000000
                AS BIGINT) AS ret100_cents
    FROM f2
    """,
    tags=("stats", "gumbel", "extreme-value", "block-maxima"),
)
def q_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit of MONTHLY block maxima of daily
    revenue (method of moments: beta = sigma*sqrt(6)/pi, mu = mean -
    gamma*beta) and the 1-in-100-month return level mu + beta *
    (-ln(-ln 0.99)) — the capacity-planning question ("how big a
    revenue day should the pipeline survive?") that q_hill_tail_index
    answers for tail EXPONENT and this answers for tail LEVEL.
    Constants (gamma, 1/pi^2, the 99% Gumbel quantile) are integer
    nano literals; sigma^2 quantizes once to cents^2, and beta is the
    exact integer sqrt (FLOOR of the correctly-rounded IEEE sqrt of
    an exactly-representable <2^53 integer — the q_hurst_exponent
    treatment), so every emitted column hashes.

    Scale: calendar-bounded daily then monthly collapses (~80 blocks
    at any SF), one 1-row moment fit."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mth"),
        "o_orderdate",
    ).agg(
        F.expr(
            "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("cents")
    )
    blocks = daily.groupBy("mth").agg(
        F.max("cents").cast("decimal(38,0)").alias("mx")
    )
    m = blocks.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("SUM(mx)").alias("s"),
        F.expr("SUM(mx * mx)").alias("ss"),
    )
    fit = m.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.expr("CAST(s div n AS BIGINT)").alias("mean_cents"),
        F.expr(
            f"CAST((6 * CAST((n * ss - s * s) div (n * (n - 1))"
            f" AS DECIMAL(38,0)) * {_INV_PI2_NANO}) div 1000000000"
            " AS BIGINT)"
        ).alias("beta2"),
    )
    f2 = fit.select(
        "n_blocks",
        "mean_cents",
        "beta2",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(beta2 AS DOUBLE))) AS BIGINT)"
        ).alias("beta_cents"),
    )
    return f2.select(
        "n_blocks",
        "mean_cents",
        "beta_cents",
        F.expr(
            f"CAST(mean_cents - ({_GAMMA_NANO} * beta_cents)"
            " div 1000000000 AS BIGINT)"
        ).alias("mu_cents"),
        F.expr(
            f"CAST(mean_cents - ({_GAMMA_NANO} * beta_cents)"
            f" div 1000000000 + ({_GQ99_NANO} * beta_cents)"
            " div 1000000000 AS BIGINT)"
        ).alias("ret100_cents"),
    )
